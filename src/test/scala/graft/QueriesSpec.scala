package graft

/** Driver-contract invariants: every oracle key has a query, the
  * flagship returns rows, and every registered query evaluates at
  * sf0.001 (the driver's smoke scale). */
class QueriesSpec extends SparkSuite {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("the registry holds 301 queries, 299 oracles, and only q24 and q36 rows-only") {
    assert(SparkEntry.queries.size === 301)
    assert(SparkEntry.oracleSql.size === 299)
    assert(SparkEntry.rowsOnly === Set("q24_approx_distinct", "q36_sketches"))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q36 sketch estimates track the exact values") {
    import org.apache.spark.sql.functions._
    val sketch = SparkEntry.queries("q36_sketches")(spark, sf("0.001"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.events(spark, sf("0.001"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
           expr("percentile(value, 0.5)").as("exact_p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for ((et, (hllUsers, approxP50)) <- sketch) {
      val (exactUsers, exactP50) = exact(et)
      assert(math.abs(hllUsers - exactUsers).toDouble / exactUsers <= 0.05,
        s"$et: HLL $hllUsers vs exact $exactUsers")
      assert(math.abs(approxP50 - exactP50) / math.max(exactP50, 1e-9) <= 0.10,
        s"$et: approx p50 $approxP50 vs exact $exactP50")
    }
  }

  test("all registered queries evaluate at sf0.001") {
    import org.apache.spark.sql.SparkSession
    // A fresh session holds only the built-in functions, and no query
    // may add to them: each builds its native expressions as Columns.
    // q127, the SQL-surface query, installs the SQL names; it runs last
    // so that no other query can resolve a name through it.
    val sqlSurface = "q127_sql_topk"
    val s = spark.newSession()
    def listing = s.sessionState.functionRegistry.listFunction().map(_.unquotedString).sorted
    val previous = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    val failures = try {
      SparkEntry.queries.toSeq.sortBy { case (name, _) => (name == sqlSurface, name) }
        .flatMap { case (name, fn) =>
          val before = listing
          val failure =
            try { fn(s, sf("0.001")).count(); None }
            catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
          val after = listing
          failure.orElse(
            if (name == sqlSurface || after == before) None
            else Some(s"$name changed the function registry: " +
              s"+${after.diff(before).mkString(",")} -${before.diff(after).mkString(",")}"))
        }
    } finally previous match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("portable HLL estimates known cardinalities within 15 percent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // three groups of very different true cardinality, incl. heavy dups
    val rows = (1 to 2000).map(i => ("big", i % 1300)) ++
      (1 to 500).map(i => ("mid", i % 90)) ++
      (1 to 50).map(_ => ("tiny", 7))
    val df = rows.toDF("g", "v")
    val got = graft.operators.Sketches.hllDistinct(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(3))).toMap
    for ((g, (est, exact)) <- got) {
      val err = math.abs(est - exact) / exact
      assert(err <= 0.15, s"$g: est=$est exact=$exact err=$err")
    }
    assert(got("tiny")._2 == 1L)
  }

  test("bloom decontamination: no false negatives, exact on contained docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // fully contained in bench
      (2L, "zeta eta theta iota kappa"),      // disjoint
      (3L, "x alpha beta gamma y z")          // 1 of 4 shingles shared
    ).toDF("doc_id", "text")
    val out = graft.operators.Sketches.bloomDecontaminate(
        corpus, bench, "doc_id", "text", n = 3, mBits = 1024, kHashes = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    // a Bloom filter can overcount but NEVER undercount
    for ((id, (_, nBloom, nExact)) <- out)
      assert(nBloom >= nExact, s"doc $id: bloom $nBloom < exact $nExact")
    // doc 1's shingles are all benchmark shingles: every probe must hit
    assert(out(1L)._2 == out(1L)._1 && out(1L)._3 == out(1L)._1.toLong)
    assert(out(3L)._3 == 1L)
    // tiny filter (16 bits, ~all set by 7 bench shingles x 3 hashes):
    // false positives become near-certain, the audit must expose them
    val saturated = graft.operators.Sketches.bloomDecontaminate(
        corpus, bench, "doc_id", "text", n = 3, mBits = 16, kHashes = 3)
      .agg(org.apache.spark.sql.functions.sum(col("n_false_pos"))).head.getLong(0)
    assert(saturated > 0, "a saturated filter must show false positives")
  }

  test("production sketch forms agree with their audited twins (q94/q85, q95/q90)") {
    import org.apache.spark.sql.functions.col
    // audit=false must change COST (arms skipped), never VALUES: the
    // production outputs must be column-exact projections of the
    // audited ones
    val audited = SparkEntry.queries("q85_bloom_decontaminate")(spark, sf("0.001"))
      .select(col("doc_id"), col("n_sh"), col("n_bloom")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val prod = SparkEntry.queries("q94_bloom_scan")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(prod == audited, "q94 must equal q85's (doc_id, n_sh, n_bloom)")
    val cmAudited = SparkEntry.queries("q90_countmin_tokens")(spark, sf("0.001"))
      .select(col("term"), col("cms_estimate")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val cmProd = SparkEntry.queries("q95_countmin_scan")(spark, sf("0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cmProd == cmAudited, "q95 must equal q90's (term, cms_estimate)")
  }

  test("q93 RAG retrieval: every query's rank-1 chunk is an exact content match") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("q93_rag_retrieval")(spark, sf("0.001"))
      .filter(col("rank") === 1).collect()
    assert(out.length == 5, "five probe queries, one rank-1 each")
    // the probe IS a corpus chunk and embeddings are content-derived,
    // so the best hit must be an exact-content chunk (sim 1.0) — not
    // necessarily the same doc if another doc duplicates the text
    assert(out.forall(_.getAs[Double]("sim") == 1.0))
  }

  test("count-min sketch never undercounts and is exact with a roomy table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val values = (1 to 400).map(i => s"v${i % 40}").toDF("x")
    val roomy = graft.operators.Sketches.countMinFrequencies(values, "x",
        w = 4096, d = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(roomy.length == 40)
    // 40 values in 4096 cells x 4 rows: min-of-rows collisions are
    // effectively impossible, the sketch must be exact
    assert(roomy.forall { case (_, est, exact) => est == exact && exact == 10L })
    // cramped table (8 cells for 40 values): collisions guaranteed, but
    // estimates may only ever OVERcount
    val cramped = graft.operators.Sketches.countMinFrequencies(values, "x",
        w = 8, d = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cramped.forall { case (est, exact, over) =>
      est >= exact && over == est - exact })
    assert(cramped.exists(_._3 > 0), "a saturated CMS must show overcounts")
  }

  test("cmsJoinSize never undercounts; exact when the sketch is roomy") {
    import spark.implicits._
    val a = Seq(1L, 1L, 1L, 2L, 2L, 3L, 7L).toDF("k")   // f = {1:3, 2:2, 3:1, 7:1}
    val b = Seq(1L, 2L, 2L, 4L).toDF("k")               // f = {1:1, 2:2, 4:1}
    // true join size = 3*1 + 2*2 = 7
    val roomy = graft.operators.Sketches.cmsJoinSize(a, "k", b, "k",
        w = 1024, d = 4).head()
    assert(roomy.getLong(2) == 7L && roomy.getLong(3) == 7L,
      s"roomy sketch must be exact: $roomy")
    // cramped sketch: collisions may only ever OVERcount
    val cramped = graft.operators.Sketches.cmsJoinSize(a, "k", b, "k",
        w = 2, d = 2).head()
    assert(cramped.getLong(2) >= cramped.getLong(3))
    // disjoint keys: exact 0, estimate stays non-negative
    val disjoint = graft.operators.Sketches.cmsJoinSize(
        Seq(1L, 2L).toDF("k"), "k", Seq(9L, 10L).toDF("k"), "k",
        w = 1024, d = 4).head()
    assert(disjoint.getLong(3) == 0L && disjoint.getLong(2) >= 0L)
  }

  test("kmvOverlap is exact when k covers the union") {
    import spark.implicits._
    val a = (1 to 30).map(_.toLong).toDF("u")       // 1..30
    val b = (21 to 50).map(_.toLong).toDF("u")      // 21..50; inter=10, union=50
    val r = graft.operators.Sketches.kmvOverlap(a, "u", b, "u", k = 256).head()
    assert(r.getInt(1) == 50, "sketch must hold the whole union below k")
    assert(r.getDouble(2) == 10.0 / 50.0, s"jaccard exact: $r")
    assert(r.getDouble(3) == 50.0 && r.getDouble(4) == 10.0, s"union/inter exact: $r")
    assert(r.getLong(5) == 50L && r.getLong(6) == 10L)
  }

  test("KMV bottom-k estimates known cardinalities; exact below k") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => ("big", i % 1300)) ++
      (1 to 500).map(i => ("mid", i % 90)) ++
      (1 to 50).map(_ => ("tiny", 7))
    val df = rows.toDF("g", "v")
    val got = graft.operators.Sketches.kmvDistinct(df, "g", "v", k = 256)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    // below k distinct: the sketch holds the whole set -> exact
    assert(got("tiny") == ((1.0, 1, 1L)))
    assert(got("mid") == ((90.0, 90, 90L)), "90 < k must be exact")
    // big has 1300 distinct > k: estimator std err ~ 1/sqrt(k-2) ~ 6%
    val (est, kept, exact) = got("big")
    assert(kept == 256)
    val err = math.abs(est - exact) / exact
    assert(err <= 0.2, s"big: est=$est exact=$exact err=$err")
  }

  test("exactQuantiles equals DuckDB-style PERCENTILE_DISC by construction") {
    import spark.implicits._
    val rows = Seq.tabulate(101)(i => ("a", i.toDouble)) ++ // 0..100 once
      Seq.fill(10)(("b", 5.0)) ++ Seq(("b", 9.0))           // skewed dups
    val df = rows.toDF("g", "v")
    val got = graft.operators.Sketches
      .exactQuantiles(df, "g", "v", Seq(0.5, 0.9, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // group a: n=101, ceil(.5*101)=51 -> v=50; ceil(.9*101)=91 -> v=90; q=1 -> 100
    assert(got(("a", 0.5)) == 50.0 && got(("a", 0.9)) == 90.0 &&
      got(("a", 1.0)) == 100.0)
    // group b: n=11, ceil(.5*11)=6 -> 5.0 (dup mass); q=1 -> max 9.0
    assert(got(("b", 0.5)) == 5.0 && got(("b", 1.0)) == 9.0)
  }
}
