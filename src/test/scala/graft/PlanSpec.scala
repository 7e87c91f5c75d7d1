package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{bloomHits, jaroWinkler, shingleStrings}

/** Plan-shape regression tests: the scale properties the engine relies
  * on (pushdown, pruning, broadcast selection, partial aggregation,
  * bucketed co-location) asserted against the physical plans, so a
  * refactor that silently loses one fails here rather than at 100 TB. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("0.001"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 pushes all predicates into the parquet scan and prunes columns") {
    val p = plan("q02_revenue_filter")
    // ordering-independent: Catalyst may reorder pushed conjuncts
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.03)"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    // projection pruning: the scan must not read unused columns
    assert(!p.contains("l_orderkey"), "scan should not read l_orderkey")
    assert(!p.contains("l_tax"), "scan should not read l_tax")
  }

  test("relational hot paths stay inside whole-stage codegen") {
    // `*(n)` prefixes mark codegen'd stages; a hot path that fell out
    // of codegen (an interpreted expression snuck in) loses the fused
    // loop and shows up here before it shows up in the bench
    for (q <- Seq("q01_pricing_summary", "q26_math_funcs", "q14_string_funcs")) {
      val df = SparkEntry.queries(q)(spark, sf("0.001"))
      df.collect() // AQE finalizes (and codegen-marks) the plan on execution
      val sp = df.queryExecution.executedPlan.toString
      assert(sp.contains("*("), s"$q must run inside WholeStageCodegen:\n${sp.take(800)}")
      assert("\\*\\(\\d+\\) (HashAggregate|Project)".r.findFirstIn(sp).isDefined,
        s"$q's aggregate/projection must be codegen'd:\n${sp.take(800)}")
    }
  }

  test("q30 similarity match plans a broadcast NLJ with the squared predicate") {
    val p = plan("q30_broadcast_match")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.toLowerCase.contains("sqrt"), "SimplifySqrtThreshold must fire")
  }

  test("q03 uses hash joins with a broadcast dimension") {
    val p = plan("q03_segment_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q01 aggregates in two phases (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q31/q33 plan without any broadcast when stats forbid it (no forced hint)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q31_cosine_topk", "q33_embedding_neardup")) {
        val df = SparkEntry.queries(q)(spark, sf("0.001"))
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("BroadcastExchange"),
          s"$q must respect autoBroadcastJoinThreshold=-1:\n${p.take(2000)}")
        assert(df.count() > 0, s"$q must still execute under the cartesian plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("q35 IVF assignment is a projection on BOTH sides, not an expansion") {
    // exactly one logical Window remains: the final per-probe rank.
    // Target assignment must be the nearest_cell projection (model
    // inside the expression), NOT a targets×centroids expansion through
    // aggregation — with a large auto-sized quantizer the array-buffered
    // agg falls back to sort-based and sorts the whole n×k expansion
    // (measured 50+ GB at the 100× capture before the projection form).
    // Probe fan-out must be the nearest_cells projection + explode, NOT
    // a crossJoin(centroids) + rank window — bounded at nProbe rows per
    // probe, which is what keeps batch-join workloads (probes ≈ corpus)
    // off an n×k window sort.
    val exec = SparkEntry.queries("q35_ivf_topk")(spark, sf("0.001"))
      .queryExecution.executedPlan
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(windows.size <= 2, // 1 logical window; group-limit pushdown may pair it
      s"expected only the final rank window, got:\n${windows.mkString("\n")}")
    val p = exec.toString
    assert(p.contains("nearest_cell"),
      "target assignment must be the nearest_cell projection")
    assert(p.contains("nearest_cells"),
      "probe fan-out must be the nearest_cells projection")
    assert(!p.contains("CartesianProduct"),
      s"IVF must never plan a cartesian:\n${p.take(1500)}")
  }

  test("q58/q63 two-level rank and prefix sum broadcast their offset side") {
    for (q <- Seq("q58_stratified_cap", "q63_pack_global")) {
      val p = SparkEntry.queries(q)(spark, sf("0.001"))
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"$q offsets must rejoin by broadcast, not shuffle:\n${p.take(2000)}")
    }
  }

  test("q59 quantization is projection-only (single exchange for the sort)") {
    // executedPlan.toString lists each node once (collect can't descend
    // into the AdaptiveSparkPlan wrapper before execution)
    val p = SparkEntry.queries("q59_quantize_int8")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert("Exchange \\w".r.findAllIn(p).size == 1,
      s"quantization must not shuffle beyond the final orderBy:\n$p")
  }

  test("auto-routed ANN entries plan equi-joins on the scale path") {
    // q76/q77 register with exactLimit below the corpus size, so their
    // corpus-side joins must be equi-joins on routing keys (IVF cell /
    // LSH bucket) — the quadratic exact baselines stay capped behind
    // their require() guards and never reach a plan at this size
    for (q <- Seq("q76_ann_autoroute", "q77_neardup_autoroute")) {
      val p = SparkEntry.queries(q)(spark, sf("0.001"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n${p.take(1500)}")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q must equi-join on its routing keys:\n${p.take(1500)}")
    }
  }

  test("mutualTopK routes both directions to IVF equi-joins past the pair budget") {
    // the mutual-kNN shape has no small side: two sub-cap corpora can
    // still span a quadratic pair space, so the routing bound is nx*ny.
    // Force it below this corpus and pin that NO cartesian survives —
    // both direction rankings must arrive via the IVF cell equi-join.
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.asDoubleVec(col("embedding")).as("emb"))
    val x = e.filter(col("label") <= 4)
      .select(col("vec_id").as("x_id"), col("emb").as("x_vec"))
    val y = e.filter(col("label") >= 5)
      .select(col("vec_id").as("y_id"), col("emb").as("y_vec"))
    val df = graft.operators.Similarity.mutualTopK(
      x, "x_id", "x_vec", y, "y_id", "y_vec", k = 3, pairBudget = 10L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"mutualTopK routed path plans a cartesian:\n${p.take(1500)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"mutualTopK routed path must equi-join on IVF cells:\n${p.take(1500)}")
    assert(df.count() > 0, "mutualTopK must still execute on the routed path")
  }

  test("q93 RAG retrieval routes to an IVF equi-join past the cap (no refusal, no cartesian)") {
    // the registered q93 is the deployment surface: force the scale
    // path by shrinking the routing cap below the chunk count and pin
    // that scoring plans an equi-join on the IVF cell key — the same
    // guarantee q76/q77 pin for the bare entry points
    val df = graft.queries.SimilarityQueries.ragRetrieval(spark, sf("0.001"), exactLimit = 10)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"q93 scale path plans a cartesian:\n${p.take(1500)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"q93 scale path must equi-join on the IVF cell key:\n${p.take(1500)}")
    assert(df.count() > 0, "q93 must still execute on the routed path")
  }

  test("no registered query plans a CartesianProduct under default config") {
    // registry-wide regression guard: every pair-style operator either
    // broadcasts (BroadcastNestedLoopJoin) or equi-joins; an unhinted
    // CartesianProduct sneaking into ANY query is a scale bug. Queries
    // whose CONSTRUCTION already runs jobs (k-means collect loops,
    // eager localCheckpoints) are skipped — their plans are pinned by
    // their own tests.
    val iterative = Set("q53_dup_clusters", "q61_kmeans", "q72_product_quantize",
      "q73_pq_adc_topk", "q41_jaccard_pairs", "q46_simhash", "q54_decontaminate",
      "q62_dup_span_coverage", "q63_pack_global", "q68_build_shards",
      "q58_stratified_cap", "q64_unigram_lm", "q69_incremental_dedup")
    val names = SparkEntry.queries.keys.filterNot(iterative).toSeq.sorted
    val offenders = names.filter { name =>
      SparkEntry.queries(name)(spark, sf("0.001"))
        .queryExecution.executedPlan.toString.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian plans in: $offenders")
  }

  test("bucketed co-located join needs no shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Catalog.dropTable(spark, "li_bucketed")
      Catalog.dropTable(spark, "o_bucketed")
      Catalog.createBucketedTable(
        Tables.lineitem(spark, sf("0.001")).select("l_orderkey", "l_quantity"),
        "li_bucketed", "l_orderkey", nBuckets = 4, sortCol = Some("l_orderkey"))
      Catalog.createBucketedTable(
        Tables.orders(spark, sf("0.001")).select("o_orderkey", "o_totalprice"),
        "o_bucketed", "o_orderkey", nBuckets = 4, sortCol = Some("o_orderkey"))
      val joined = spark.table("li_bucketed").join(
        spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${p.take(2000)}")
      assert(joined.count() == Tables.lineitem(spark, sf("0.001")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Catalog.dropTable(spark, "li_bucketed")
      Catalog.dropTable(spark, "o_bucketed")
    }
  }

  test("persisted ANN index: cell-bucketed table joins probes without shuffling the index") {
    // build-once-query-many: kMeans assigns every vector a cell, the
    // assignment persists as a table BUCKETED by cell, and each probe
    // query equi-joins its probed cells against the index — the big
    // (index) side is read pre-partitioned, so no Exchange touches it
    import org.apache.spark.sql.functions.{col => c}
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Catalog.dropTable(spark, "ann_index")
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(c("vec_id"), graft.functions.VectorFunctions.asDoubleVec(c("embedding")).as("emb"))
      val model = graft.operators.Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(c("cell"), c("centroid_vec"))
      val assigned = e.crossJoin(org.apache.spark.sql.functions.broadcast(model))
        .groupBy(c("vec_id"))
        .agg(org.apache.spark.sql.functions.first(c("emb")).as("emb"),
          org.apache.spark.sql.functions.min_by(c("cell"),
            org.apache.spark.sql.functions.struct(
              graft.functions.VectorFunctions.fastSquaredL2(c("emb"), c("centroid_vec")),
              c("cell"))).as("cell"))
      Catalog.createBucketedTable(assigned, "ann_index", "cell", nBuckets = 4)
      import spark.implicits._
      val probeCells = Seq((0, 100L), (1, 101L)).toDF("cell", "p_id")
      val joined = spark.table("ann_index").join(probeCells, Seq("cell"))
      val p = joined.queryExecution.executedPlan.toString
      assert(joined.count() > 0)
      // at most one Exchange (the tiny probe side), and the index scan
      // itself must be bucket-aware — i.e. read pre-partitioned
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
        s"bucketed ANN index must not be shuffled:\n${p.take(2500)}")
      assert(p.contains("Bucketed: true"),
        s"index scan must use its buckets:\n${p.take(2500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Catalog.dropTable(spark, "ann_index")
    }
  }

  test("Catalog CREATE/DROP lifecycle mirrors the reference's topic DDL (D1/D2)") {
    val names = Seq("graft_cat_a", "graft_cat_b", "unrelated_cat")
    try {
      names.foreach(Catalog.dropTable(spark, _))
      val region = Tables.region(spark, sf("0.001"))
      Catalog.createBucketedTable(region, "graft_cat_a", "r_regionkey", 2)
      Catalog.createTable(region, "graft_cat_b")
      Catalog.createTable(region, "unrelated_cat")
      assert(spark.catalog.tableExists("graft_cat_a"))
      assert(spark.table("graft_cat_a").count() == region.count())
      // create-over-existing overwrites (reference: clear-then-create)
      Catalog.createBucketedTable(region.limit(2), "graft_cat_a", "r_regionkey", 2)
      assert(spark.table("graft_cat_a").count() == 2)
      // prefix sweep = per-camera topic sweep; misses unrelated tables
      val dropped = Catalog.dropTables(spark, "graft_cat_")
      assert(dropped.toSet == Set("graft_cat_a", "graft_cat_b"))
      assert(!spark.catalog.tableExists("graft_cat_a"))
      assert(spark.catalog.tableExists("unrelated_cat"))
      // idempotent drop, like clear_topic on a missing topic
      assert(Catalog.dropTable(spark, "unrelated_cat"))
      assert(!Catalog.dropTable(spark, "unrelated_cat"))
    } finally names.foreach(Catalog.dropTable(spark, _))
  }

  test("bloom probe arm is a pure projection: zero exchanges over the corpus") {
    val bits = Array.fill(64)(false); bits(3) = true
    val probe = Tables.documents(spark, sf("0.001"))
      .select(col("doc_id"), bloomHits(col("text"), 3, 3, bits.toSeq).as("bh"))
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the decontamination scan must not shuffle the corpus:\n${p.take(1500)}")
  }

  test("count-min point probe: corpus scanned once, counters join by broadcast") {
    import graft.functions.TextFunctions.tokens
    val tok = Tables.documents(spark, sf("0.001"))
      .select(explode(tokens(col("text"))).as("term"))
    val counters = graft.operators.Sketches.countMinCounters(tok, "term", 1024, 4)
    import spark.implicits._
    val qs = Seq("join", "quantize").toDF("term")
    val probed = graft.operators.Sketches.countMinProbe(counters, qs, "term", 1024, 4)
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"counters must reach the probe via broadcast:\n${p.take(1500)}")
    assert("FileScan".r.findAllMatchIn(p).size == 1,
      s"the corpus must be scanned exactly once (the counter build):\n${p.take(1500)}")
    // the only hash-partitioned shuffle is the probe-side min-agg over
    // the supplied query values; the counter build itself moves one
    // bounded d*w buffer per partition through a single-partition merge
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size <= 1,
      s"no corpus-side hash shuffle after the counter build:\n${p.take(1500)}")
  }

  test("randomProject is a pure projection: zero exchanges") {
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDoubleVec(col("embedding")).as("v"))
    val p = graft.operators.Similarity.randomProject(e, "vec_id", "v", 16, 7L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"JL projection must not shuffle:\n${p.take(1500)}")
  }

  test("mergePairStats cuts top-k via TakeOrderedAndProject, not a global sort") {
    val p = graft.operators.TextAnalysis.mergePairStats(
        Tables.documents(spark, sf("0.001")), "text", k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap + driver merge:\n${p.take(1500)}")
  }

  test("q128 plans the custom AsOfJoinExec with one exchange+sort per side") {
    val df = SparkEntry.queries("q128_asof_native")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"must plan the custom exec:\n${p.take(1500)}")
    assert(!p.contains("Window "), "no window buffer in the native form")
    // sides co-partition: the exec's two children each get exactly one
    // hash exchange (the final orderBy adds one range exchange)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges, got $hashExchanges:\n${p.take(2000)}")
    assert(df.count() > 0)
  }

  test("q130 forward as-of plans the native exec, one exchange+sort per side") {
    val df = SparkEntry.queries("q130_asof_forward")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"must plan the custom exec:\n${p.take(1500)}")
    assert(!p.contains("BroadcastExchange"),
      "big-big forward as-of must not assume a broadcastable side")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges, got $hashExchanges:\n${p.take(2000)}")
    assert(df.count() > 0)
  }

  test("q148 nearest as-of plans the native exec, one exchange+sort per side") {
    val df = SparkEntry.queries("q148_asof_nearest")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"must plan the custom exec:\n${p.take(1500)}")
    assert(!p.contains("BroadcastExchange"),
      "big-big nearest as-of must not assume a broadcastable side")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges, got $hashExchanges:\n${p.take(2000)}")
    assert(df.count() > 0)
  }

  test("q155: bloom probe filters the fact side pre-exchange; SMJ, no broadcast") {
    val df = SparkEntry.queries("q155_bloom_join_reduce")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n${p.take(1500)}")
    assert(!p.contains("BroadcastHashJoin"),
      "dim must not broadcast (the pattern models the big-dim case)")
    assert(p.contains("forall"),
      s"bloom membership must be a projection-time filter on the fact side:\n${p.take(1500)}")
    assert(df.count() > 0)
  }

  test("q129 broadcasts only the calendar-bounded dimension; left never shuffles") {
    val df = SparkEntry.queries("q129_asof_broadcast")(spark, sf("0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(1500))
    // the ONLY hash exchange is the per-key history fold of the
    // checkpointed |types|x|days| dimension (its daily agg ran once at
    // guard time and is reused from the checkpoint); the event side
    // reaches the join shuffle-free (orderBy adds a range exchange)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"only the dimension fold may hash-shuffle, got $hashExchanges:\n${p.take(2000)}")
  }

  test("broadcast as-of join never shuffles the left side") {
    val e = Tables.events(spark, sf("0.001"))
      .withColumn("ep", unix_timestamp(col("ts")))
    val l = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ep"))
    val r = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ep").as("vep"))
    val p = graft.operators.EventOps.asOfJoinBroadcast(l, r, "user_id",
        "ep", "vep", rCols = Seq("view_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(1500))
    // exactly ONE hash exchange: the right-side history fold (which
    // then broadcasts); the big left side must not shuffle
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"only the small right side may shuffle, got $hashExchanges:\n${p.take(2000)}")
  }

  test("kmv bottom-k plans a WindowGroupLimit (bounded per-group state map-side)") {
    val p = graft.operators.Sketches.kmvDistinct(
        Tables.events(spark, sf("0.001")), "event_type", "user_id", k = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"bottom-k must prune to k rows per group:\n${p.take(1500)}")
  }

  test("deleteRows rewrites only hit partitions; untouched files stay byte-identical") {
    import spark.implicits._
    val t = "graft_delete_sweep"
    try {
      Catalog.dropTable(spark, t)
      // 4 partitions; ids 0-39; partition p3 will be fully deleted
      val df = (0L until 40L).map(i => (i, (i / 10).toInt, s"v$i"))
        .toDF("id", "p", "payload")
      df.write.partitionBy("p").saveAsTable(t)
      def files(): Map[String, (Long, Long)] = {
        val loc = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:") + s"/$t"
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(loc)).filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      }
      val before = files()
      // delete 3 ids from p1 and ALL of p3; p0/p2 untouched
      val ids = Seq(11L, 12L, 13L, 30L, 31L, 32L, 33L, 34L, 35L, 36L,
        37L, 38L, 39L).toDF("id")
      val n = Catalog.deleteRows(spark, t, "p", "id", ids)
      assert(n == 2L, s"exactly p1 and p3 contain hits, got $n")
      val got = spark.table(t).select(col("id")).collect()
        .map(_.getLong(0)).toSet
      val want = (0L until 40L).toSet -- Set(11L, 12L, 13L) --
        (30L until 40L).toSet
      assert(got == want, "survivors must be exactly the non-deleted rows")
      // untouched partitions' files must be BYTE-IDENTICAL (not rewritten)
      val after = files()
      val untouched = before.filter { case (path, _) =>
        path.contains("/p=0/") || path.contains("/p=2/") }
      untouched.foreach { case (path, sig) =>
        assert(after.get(path).contains(sig),
          s"untouched partition file must not be rewritten: $path")
      }
      assert(!after.keys.exists(_.contains("/p=3/")),
        "a fully-deleted partition must be dropped, not left with dead rows")
      // idempotent rerun: no hits, nothing rewritten
      assert(Catalog.deleteRows(spark, t, "p", "id", ids) == 0L)
    } finally Catalog.dropTable(spark, t)
  }

  test("q219 linkage and q222 link prediction never plan a cartesian") {
    // both are quadratic-LOOKING operators whose scale contract is the
    // blocking/wedge equi-join; a cartesian (or a non-equi BNLJ over
    // the corpus) means the blocking key fell out of the join
    for (q <- Seq("q219_linkage_scores", "q222_link_prediction",
        "q222b_link_prediction_sampled")) {
      val p = SparkEntry.queries(q)(spark, sf("0.001"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian:\n${p.take(1500)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop over the corpus:\n${p.take(1500)}")
    }
  }

  test("q302 KMV pair sketch: bottom-k is WindowGroupLimit'd, no corpus pair join") {
    // the pair space must work on <= k-row sketches. Two pins:
    // (1) the sketch BUILD (kmvHashes) must plan its bottom-k as
    //     WindowGroupLimit — the dense_rank-before-dedup form's
    //     map-side k-row cap, no unbounded per-group sort (the final
    //     query plan hides this behind the sketch localCheckpoint, so
    //     pin the build plan directly);
    // (2) the final plan must have no CartesianProduct, and its pair
    //     grid must cross ≤k-long sketch ARRAYS (collect_list
    //     aggregates), never corpus rows — the array min-wise merge
    //     replaced the per-pair row window.
    val docs = graft.Tables.documents(spark, sf("0.001")).select(col("source"),
      explode(shingleStrings(col("text"), 3, distinct = true))
        .as("sh"))
    val build = graft.operators.Sketches.kmvHashes(docs, "source", "sh", 256)
      .queryExecution.executedPlan.toString
    assert(build.contains("WindowGroupLimit"),
      s"bottom-k lost its group limit:\n${build.take(1500)}")
    val p = SparkEntry.queries("q302_kmv_source_overlap")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("collect_list"),
      s"pair grid must cross aggregated sketch arrays:\n${p.take(1500)}")
  }

  test("q217 winsorize: the corpus-side clip is broadcast, not re-shuffled") {
    // the quantile bounds are one row; they must come back as a
    // BroadcastExchange so the projection over the corpus adds no
    // corpus shuffle beyond the bounded distinct-value spine
    val p = SparkEntry.queries("q217_winsorize")(spark, sf("0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("jaro_winkler scoring stays inside whole-stage codegen") {
    // a range-derived source: literal Seqs constant-fold the whole
    // projection into a LocalTableScan (proving interpreted eval, not
    // the codegen path)
    val df = spark.range(4)
      .select(concat(lit("abc"), col("id").cast("string")).as("a"),
        lit("abc0x").as("b"))
      .select(jaroWinkler(col("a"), col("b")).as("jw"))
      .filter(col("jw") > 0.9)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"jw filter must codegen:\n${p.take(800)}")
    assert(df.count() >= 1)
  }

  test("phraseSearch plans ONE window pass and no join") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val p = graft.operators.Retrieval
      .phraseSearch(docs, "doc_id", "text", Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"positional self-joins must not appear:\n$p")
    assert("(?s)Window".r.findAllIn(p).length >= 1)
  }

  test("tableDiff joins 16-byte digests, never row payloads") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "s", "v")
    val b = Seq((1L, "x", 1.0), (3L, "z", 3.0)).toDF("k", "s", "v")
    val df = graft.Catalog.tableDiff(a, b, "k", Seq(col("s"), col("v")))
    val p = df.queryExecution.executedPlan.toString
    // the join's output columns are only (k, hash_a, hash_b): the
    // payload columns are pruned below the exchange
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p.take(1200))
    val joined = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.head
    val joinCols = joined.children.flatMap(_.output.map(_.name)).toSet
    assert(joinCols == Set("k", "hash_a", "hash_b"),
      s"join must see digests only, saw $joinCols")
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "removed", 3L -> "added"))
  }

  test("applyChangeSet: upsert/delete semantics and one anti-join, no rebuild") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val changes = Seq(
      ("U", 2L, "b2", 25.0),   // update key 2
      ("D", 3L, "c", 30.0),    // delete key 3
      ("I", 9L, "z", 90.0))    // insert key 9
      .toDF("op", "k", "name", "v")
    val out = Catalog.applyChangeSet(base, changes, "k")
    val got = out.collect().map(r =>
      r.getAs[Long]("k") -> (r.getAs[String]("name"), r.getAs[Double]("v")))
      .toMap
    assert(got == Map(1L -> ("a", 10.0), 2L -> ("b2", 25.0),
      9L -> ("z", 90.0)))
    // plan shape: the base is filtered by ONE anti-join then unioned —
    // no aggregate, no sort, no window over the base
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
  }

  test("q279 log-rank: one corpus lineage, no cartesian pair work") {
    val p = plan("q279_logrank")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the (duration × group) spine is localCheckpointed, so the
    // final plan's three consumers (totals, risk windows, sums) read
    // the materialized spine — zero parquet rescans downstream
    assert(p.split("Scan parquet").length - 1 == 0, p.take(2000))
  }

  test("q281 markov iteration plan never re-reads the corpus") {
    // the transition grid is localCheckpointed before the 16 matvecs:
    // the registered query's FINAL plan must contain zero parquet
    // scans — all corpus work happened once, at grid build
    val p = plan("q281_markov_stationary")
    assert(!p.contains("Scan parquet"), p.take(1500))
  }

  test("q282 bradley-terry iteration plan is grid-only") {
    // same contract: the duel grid and each MM iterate are
    // checkpointed, so the final plan reads no parquet and the
    // per-round state is |items| rows whatever the corpus size
    val p = plan("q282_bradley_terry")
    assert(!p.contains("Scan parquet"), p.take(1500))
  }

  test("q287/q292 absorption iterations are grid-only (no corpus rescan)") {
    for (q <- Seq("q287_markov_absorption", "q292_time_to_absorb")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"), s"$q: ${p.take(1200)}")
    }
  }

  test("q291/q293 are one-pass grid/moment reductions") {
    for (q <- Seq("q291_gumbel_tail", "q293_source_concentration")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(800)}")
    }
  }

  test("q297/q299 broadcast their bounded spines (no corpus-side big join)") {
    for (q <- Seq("q297_walkforward_cv", "q299_quantile_normalize")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q: ${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(800)}")
    }
  }

  test("q283/q284 are single conditional-aggregate passes") {
    for (q <- Seq("q283_rdd", "q284_iv_wald")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("Window"), s"$q: ${p.take(800)}")
    }
  }

  test("q275 matching runs through the native AsOfJoin exec, no cartesian") {
    val p = plan("q275_psm_att")
    assert(p.contains("AsOfJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q267 target encoding joins its level stats by broadcast") {
    val p = plan("q267_target_encoding")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // the corpus side must NOT re-shuffle for the level join
    assert(!p.contains("SortMergeJoin"))
  }

  test("q265 Pareto prefix window runs over the aggregated part relation") {
    // Skew.rangedRank pins the aggregated part relation while the query
    // is built, so the corpus aggregation runs in that pin's own
    // execution and the query's plan starts at the pinned scan: read
    // the pin's plan from the executions the build ran
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") pins.add(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val p = plan("q265_pareto_abc")
      // the corpus aggregation must be partial (map-side) before the
      // single exchange; the window then sees only the part relation
      eventually(timeout(30.seconds)) {
        val pin = pins.toArray.map(_.toString).find(_.contains("rev_dec"))
        assert(pin.exists(_.contains("HashAggregate")))
        assert(pin.exists(x => x.contains("partial_sum") || x.contains("Partial")),
          "corpus aggregate must have a map-side phase\n" + pin.map(_.take(2000)))
      }
      assert(p.contains("Window"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q273 NB scoring broadcasts the label panel and the count grid") {
    val p = plan("q273_naive_bayes")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }
}
