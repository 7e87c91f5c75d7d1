package graft

import org.apache.spark.sql.functions._

import graft.operators.{EntityResolution, Graph, Sketches}
import graft.functions.TextFunctions.{deletionVariants, jaroWinkler}

/** Unit pins for the round-7 additions: FastSS edit-distance blocking,
  * Misra-Gries two-pass heavy hitters, degree-ordered triangles. */
class EntityGraphSpec extends SparkSuite {

  test("editDistanceOnePairs equals the brute-force ed<=1 scan") {
    import spark.implicits._
    // substitution, deletion, insertion, identical-distance-2 negatives
    val names = Seq(
      1L -> "carol", 2L -> "caroll", // insertion
      3L -> "carol", // exact dup of 1 (ed 0)
      4L -> "carla", // ed 2 from carol
      5L -> "czrol", // substitution vs carol
      6L -> "caro", // deletion vs carol
      7L -> "xavier", 8L -> "xavjer", // substitution
      9L -> "zz")
    val df = names.toDF("id", "name")
    val got = EntityResolution.editDistanceOnePairs(df, "id", "name")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val brute = (for {
      (i, a) <- names; (j, b) <- names
      if i < j && levDist(a, b) <= 1
    } yield (i, j)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(got.contains((1L, 2L)) && got.contains((1L, 5L)) &&
      got.contains((1L, 6L)) && got.contains((7L, 8L)) &&
      !got.contains((1L, 4L)))
  }

  test("deletion_variants equals the declarative deletion neighborhood") {
    import spark.implicits._
    // ascii, unicode multi-byte, single char, empty, null
    val df = Seq("carol", "héllo", "日本語", "a", "", null)
      .toDF("s")
    val got = df.select(
      deletionVariants($"s").cast("string").as("v"))
      .collect().map(_.getString(0))
    val want = df.select(
      EntityResolution.deletionNeighborhoodPos($"s").cast("string").as("v"))
      .collect().map(_.getString(0))
    assert(got.toSeq == want.toSeq, s"got=${got.toSeq} want=${want.toSeq}")
  }

  test("linkageScores minScore pushdown equals the post-filter") {
    import spark.implicits._
    import EntityResolution.LinkField
    def d(v: java.lang.Double): java.lang.Double = v
    val recs = Seq(
      (1L, 0L, "Ann", d(10.0), "A"), (2L, 0L, "ann", d(10.0), "B"),
      (3L, 0L, "Bob", d(10.0), "A"), (4L, 0L, "bob", d(20.0), "A"),
      (5L, 0L, null.asInstanceOf[String], d(10.0), "A"),
      (6L, 1L, "Ann", d(10.0), "A"), (7L, 1L, "Cat", d(null), "A"),
      (8L, 1L, "cat", d(null), "A"))
      .toDF("rec_id", "blk", "name", "bal", "seg")
    val fields = Seq(
      LinkField("name", (a, b) => lower(a) === lower(b), 3.5, -1.5,
        key = Some(c => lower(c))),
      LinkField("bal", (a, b) => a === b, 2.5, -0.75, key = Some(identity)),
      LinkField("seg", (a, b) => a === b, 1.0, -0.5, key = Some(identity)))
    for (m <- Seq(2.0, 4.0, 7.0, -10.0)) {
      val full = EntityResolution.linkageScores(recs, "rec_id", $"blk",
          fields)
        .filter($"score" >= m)
        .orderBy($"a_id", $"b_id")
        .collect().toSeq
      val pushed = EntityResolution.linkageScores(recs, "rec_id", $"blk",
          fields, minScore = Some(m))
        .orderBy($"a_id", $"b_id")
        .collect().toSeq
      assert(pushed == full, s"minScore=$m pushed=$pushed full=$full")
    }
    // an un-keyed field disables the pushdown but keeps the semantics
    val unkeyed = fields.map(f => f.copy(key = None))
    val viaFallback = EntityResolution.linkageScores(recs, "rec_id",
        $"blk", unkeyed, minScore = Some(2.0))
      .orderBy($"a_id", $"b_id").collect().toSeq
    val viaPushdown = EntityResolution.linkageScores(recs, "rec_id",
        $"blk", fields, minScore = Some(2.0))
      .orderBy($"a_id", $"b_id").collect().toSeq
    assert(viaFallback == viaPushdown)
  }

  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("heavyHitters output is exact and invariant to partitioning") {
    import spark.implicits._
    // 3 heavy values above n/(k+1), long uniform tail below it
    val rows = Seq.fill(400)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(150)("gamma") ++ (1 to 350).map(i => s"tail${i % 70}")
    val df = rows.toDF("v")
    val k = 10 // threshold n/(k+1) = 1200/11 ~ 109
    val expect = rows.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, n) => n * (k + 1) > rows.size }
      .keySet.toSet
    for (parts <- Seq(1, 3, 13)) {
      val got = Sketches.heavyHitters(df.repartition(parts), "v", k)
        .select("v").as[String].collect().toSet
      assert(got == expect, s"parts=$parts got=$got expect=$expect")
    }
  }

  test("triangleStats on K4 plus a pendant edge") {
    import spark.implicits._
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (2, 1) /* dup reversed */).toDF("s", "t")
    val row = Graph.triangleStats(edges, "s", "t").collect().head
    assert(row.getAs[Long]("n_nodes") == 5L)
    assert(row.getAs[Long]("n_edges") == 7L)
    // degrees: 1:3 2:3 3:3 4:4 5:1 -> wedges 3+3+3+6+0 = 15
    assert(row.getAs[Long]("n_wedges") == 15L)
    assert(row.getAs[Long]("n_triangles") == 4L)
    assert(math.abs(row.getAs[Double]("global_cc") - 0.8) < 1e-9)
  }

  test("triangleEstimate: sampleDenom=1 degenerates to the exact count") {
    import spark.implicits._
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5)).toDF("s", "t")
    val row = Graph.triangleEstimate(edges, "s", "t", sampleDenom = 1)
      .collect().head
    assert(row.getAs[Long]("n_edges") == 7L)
    assert(row.getAs[Long]("n_edges_sampled") == 7L) // p = 1: keep all
    assert(row.getAs[Long]("n_triangles_sampled") == 4L)
    assert(row.getAs[Long]("est_triangles") == 4L)
  }

  test("triangleEstimate: the hash coin is deterministic and the " +
      "estimate scales the sampled count by denom cubed") {
    import spark.implicits._
    // a sizeable random-ish graph so the p=1/4 sample is non-trivial
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (rnd.nextInt(40), rnd.nextInt(40)))
      .filter { case (a, b) => a != b }.toDF("s", "t")
    val r1 = Graph.triangleEstimate(edges, "s", "t", sampleDenom = 4)
      .collect().head
    val r2 = Graph.triangleEstimate(edges.repartition(7), "s", "t",
      sampleDenom = 4).collect().head
    assert(r1 == r2) // partition-layout independent
    assert(r1.getAs[Long]("n_edges_sampled") > 0)
    assert(r1.getAs[Long]("n_edges_sampled") < r1.getAs[Long]("n_edges"))
    assert(r1.getAs[Long]("est_triangles") ==
      r1.getAs[Long]("n_triangles_sampled") * 64L)
    // the sampled subgraph's exact count matches a brute-force count
    // over the same deterministically-sampled edge set
    val canon = edges.select(least($"s", $"t").as("a"),
        greatest($"s", $"t").as("b"))
      .filter($"a" =!= $"b").distinct()
      .filter(conv(substring(md5(concat($"a".cast("string"), lit("_"),
        $"b".cast("string"))), 31, 2), 16, 10).cast("long") < 64)
      .as[(Int, Int)].collect().toSet
    val brute = canon.toSeq.combinations(3).count {
      case Seq((a1, b1), (a2, b2), (a3, b3)) =>
        Set(a1, b1, a2, b2, a3, b3).size == 3
      case _ => false
    }
    assert(r1.getAs[Long]("n_triangles_sampled") == brute.toLong)
  }

  test("Quality.audit: null handling, both polarities, one row per rule") {
    import spark.implicits._
    import graft.operators.Quality
    val df = Seq((1, Some(10.0), "a-x"), (2, Some(50.0), "b-y"),
      (3, None, "zz"), (3, Some(500.0), "a-q"))
      .toDF("id", "v", "tag")
    val rep = Quality.audit(df, Seq(
        Quality.complete("v", 1.0), // 3/4 -> fail
        Quality.unique("id"), // 3 distinct / 4 -> fail
        Quality.inRange("v", 0, 100, 0.5), // 2/3 non-null in range -> pass
        Quality.matches("tag", "^[ab]-", 0.7))) // 3/4 -> pass
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getBoolean(4))).toList
    assert(rep.size == 4)
    val byRule = rep.map(x => x._1 -> x).toMap
    assert(byRule("complete")._3 == 0.75 && !byRule("complete")._4)
    assert(byRule("unique")._3 == 0.75 && !byRule("unique")._4)
    assert(byRule("in_range")._4 && byRule("in_range")._3 == 0.666667)
    assert(byRule("matches")._4 && byRule("matches")._3 == 0.75)
  }

  test("Quality.calibrationReport: bin edges, top-edge closure, exact means") {
    import spark.implicits._
    import graft.operators.Quality
    // scores straddling bin edges; 1.0 must land in bin 9, not a
    // phantom bin 10; 0.0 in bin 0
    val df = Seq(
      (0.0, 0), (0.05, 0), (0.1, 0), (0.15, 1),
      (0.55, 1), (0.55, 0), (1.0, 1))
      .toDF("score", "y")
    val rep = Quality.calibrationReport(df, "score", "y", bins = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rep.keySet == Set(0, 1, 5, 9))
    assert(rep(0) == ((2L, 0.025, 0.0, -0.025)))
    assert(rep(1)._1 == 2L && rep(1)._2 == 0.125 && rep(1)._3 == 0.5)
    assert(rep(5) == ((2L, 0.55, 0.5, 0.5 - 0.55)))
    assert(rep(9) == ((1L, 1.0, 1.0, 0.0)))
  }

  test("Quality.psiReport: one-sided bins stay finite, identical slices read ~0") {
    import spark.implicits._
    import graft.operators.Quality
    import org.apache.spark.sql.functions.{col => c}
    // ref: values 0,1 in bin 0 and 10,11 in bin 1; cur: bin 0 only —
    // bin 1 is one-sided, add-half smoothing must keep ln finite
    val df = Seq((0.0, true), (1.0, true), (10.0, true), (11.0, true),
      (2.0, false), (3.0, false))
      .toDF("v", "ref")
    val rep = Quality.psiReport(df, c("v"), c("ref"), binWidth = 10.0,
        bins = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
    // the bin spine emits ALL bins, including 2 and 3 (empty in both
    // slices) — their smoothed shares differ when t_ref != t_cur, so
    // omitting them would understate the total PSI
    assert(rep.keySet == Set(0, 1, 2, 3))
    assert(rep(0)._1 == 2L && rep(0)._2 == 2L)
    assert(rep(1)._1 == 2L && rep(1)._2 == 0L)
    assert(!rep(1)._3.isNaN && !rep(1)._3.isInfinite && rep(1)._3 > 0)
    assert(rep(2)._1 == 0L && rep(2)._2 == 0L && rep(2)._3 != 0.0)
    // identical slice shapes => every contribution exactly 0
    val mirrored = Seq((0.0, true), (0.0, false), (10.0, true),
      (10.0, false), (10.0, true), (10.0, false)).toDF("v", "ref")
    val same = Quality.psiReport(mirrored, c("v"), c("ref"), 10.0, 4)
    assert(same.collect().forall(_.getDouble(5) == 0.0))
    // negative values clamp into bin 0; null isRef counts as current
    val edge = Seq((Some(-5.0), Some(true)), (Some(1.0), Some(true)),
      (Some(2.0), None), (Some(12.0), Some(false)))
      .toDF("v", "ref")
    val er = Quality.psiReport(edge, c("v"), c("ref"), 10.0, 4)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(er.keySet == Set(0, 1, 2, 3))
    assert(er(0) == ((2L, 1L)) && er(1) == ((0L, 1L)))
  }

  test("hits: authority follows in-links, hubs follow authority reach") {
    import spark.implicits._
    // buyers 1,2,3 all buy from supplier 100; buyer 1 also from 200
    val edges = Seq((1, 100), (2, 100), (3, 100), (1, 200)).toDF("b", "s")
    val out = Graph.hits(edges, "b", "s", iters = 4)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val a100 = out(("authority", 100)); val a200 = out(("authority", 200))
    val h1 = out(("hub", 1)); val h2 = out(("hub", 2)); val h3 = out(("hub", 3))
    assert(a100 > a200, s"the 3-in-link supplier must dominate: $out")
    assert(h1 > h2 && h2 == h3,
      s"the 2-out-link buyer must lead; symmetric buyers tie: $out")
    assert(math.abs(a100 + a200 - 1.0) < 1e-9, "L1-normalized authorities")
    assert(math.abs(h1 + h2 + h3 - 1.0) < 1e-9, "L1-normalized hubs")
  }

  test("labelPropagation: disjoint triangles converge to their min labels") {
    import spark.implicits._
    val edges = Seq((1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12))
      .toDF("s", "t")
    val out = Graph.labelPropagation(edges, "s", "t", rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10, 12 -> 10))
    // partition-layout independence (the determinism claim)
    val out2 = Graph.labelPropagation(edges.repartition(5), "s", "t", 4)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out2 == out)
  }

  test("assortativity: star is exactly -1, regular graphs are null") {
    import spark.implicits._
    // S3: center degree 3, leaves degree 1 — maximally disassortative,
    // r = -1 exactly (integer moments, one exact IEEE chain)
    val star = Seq((0, 1), (0, 2), (0, 3)).toDF("s", "t")
    val r = Graph.assortativity(star, "s", "t").collect().head
    assert(r.getAs[Long]("n_nodes") == 4L && r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
    // a cycle is 2-regular: zero degree variance -> null, not a crash
    val cycle = Seq((1, 2), (2, 3), (3, 1)).toDF("s", "t")
    val rc = Graph.assortativity(cycle, "s", "t").collect().head
    assert(rc.isNullAt(rc.fieldIndex("assortativity")))
  }

  test("kCore: K4 plus a pendant path peels to K4; trees peel away") {
    import spark.implicits._
    // K4 on 1-4, pendant path 4-5-6: 2-core must be exactly K4 (node 6
    // peels round 1, exposing 5 which peels round 2 — the cascade)
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6)).toDF("s", "t")
    val core = Graph.kCore(edges, "s", "t", k = 2, rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(core == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
    // one round is NOT enough for the cascade: 5 still has degree 2
    // after 6 leaves, so the round-limited peel keeps it
    val shallow = Graph.kCore(edges, "s", "t", k = 2, rounds = 1)
      .collect().map(_.getInt(0)).toSet
    assert(shallow == Set(1, 2, 3, 4, 5))
    // a tree has no 2-core: a path peels from both ends to nothing
    val path = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 6)).toDF("s", "t")
    assert(Graph.kCore(path, "s", "t", k = 2, rounds = 4).count() == 0L)
  }

  test("q199's 8 rounds reach the 80-core fixpoint at sf0.001") {
    import org.apache.spark.sql.functions.{col => c}
    val baskets = Tables.lineitem(spark, sf("0.001"))
      .select(c("l_orderkey"), c("l_partkey"))
      .groupBy(c("l_orderkey"))
      .agg(sort_array(collect_set(c("l_partkey"))).as("pks"))
    val edges = baskets
      .select(explode(c("pks")).as("a"), c("pks"))
      .select(c("a"), explode(c("pks")).as("b"))
      .filter(c("a") < c("b"))
    val at8 = Graph.kCore(edges, "a", "b", k = 80, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val at9 = Graph.kCore(edges, "a", "b", k = 80, rounds = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(at8 == at9, "an extra peel round must change nothing")
    // and the result IS a k-core: every surviving degree >= k (or empty)
    assert(at8.forall(_._2 >= 80L))
  }

  test("Quality.ksReport: hand-checked D, scale invariance, empty slice null") {
    import spark.implicits._
    import graft.operators.Quality
    import org.apache.spark.sql.functions.{col => c}
    // ref: {0, 10, 20, 30}; cur: {20, 30, 30, 40} on a width-10 grid.
    // CDFs at bins 0..4: ref 1/4,1/4,2/4,3/4... wait ref has one value
    // per bin 0..3 -> cum 1,2,3,4 of 4; cur bins {2,3,3,4} -> cum
    // 0,0,1,3,4 of 4. Gaps |cr*4 - cc*4|/16: bin0 |4-0|/16=0.25,
    // bin1 0.5, bin2 |12-4|/16=0.5, bin3 |16-12|/16=0.25, bin4 0.
    // D = 0.5.
    val df = (Seq(0.0, 10.0, 20.0, 30.0).map(_ -> true) ++
      Seq(20.0, 30.0, 30.0, 40.0).map(_ -> false)).toDF("v", "ref")
    val r = Quality.ksReport(df, c("v"), c("ref"), binWidth = 10.0)
      .collect().head
    assert(r.getAs[Long]("n_ref") == 4L && r.getAs[Long]("n_cur") == 4L)
    assert(r.getAs[Double]("d_stat") == 0.5)
    // ks_scaled = D * sqrt(16/8) = 0.5*sqrt(2) < 1.358 -> keep
    assert(math.abs(r.getAs[Double]("ks_scaled") - 0.5 * math.sqrt(2)) < 1e-12)
    assert(!r.getAs[Boolean]("reject_05"))
    // identical slices -> D exactly 0; unbalanced sizes are fine
    val same = (Seq(1.0, 7.0, 7.0).map(_ -> true) ++
      Seq(1.0, 1.0, 7.0, 7.0, 7.0, 7.0).map(_ -> false)).toDF("v", "ref")
    val r2 = Quality.ksReport(same, c("v"), c("ref"), 10.0).collect().head
    // ref cum 1/3,3/3... one bin: both all in bin 0 -> gaps 0? ref has
    // bin0 all three; cur all six in bin0 -> D = 0
    assert(r2.getAs[Double]("d_stat") == 0.0)
    // an empty slice yields null D, not a division blow-up
    val oneSided = Seq(1.0 -> true, 2.0 -> true).toDF("v", "ref")
    val r3 = Quality.ksReport(oneSided, c("v"), c("ref"), 1.0).collect().head
    assert(r3.isNullAt(r3.fieldIndex("d_stat")))
  }

  test("Quality.emdReport: pure-shift mass reads its exact move distance") {
    import spark.implicits._
    import graft.operators.Quality
    import org.apache.spark.sql.functions.{col => c}
    // all ref mass in bin 0, all cur mass in bin 3 (binWidth 10):
    // EMD must be exactly 3 bins * 10 = 30
    val df = (Seq(5.0, 5.0).map(_ -> true) ++
      Seq(35.0, 35.0).map(_ -> false)).toDF("v", "ref")
    val r = Quality.emdReport(df, c("v"), c("ref"), binWidth = 10.0)
      .collect().head
    assert(r.getAs[Double]("emd") == 30.0)
    // identical slices -> 0; KS would read these two the same but EMD
    // must rank the big shift higher than the near one
    val near = (Seq(5.0, 5.0).map(_ -> true) ++
      Seq(15.0, 15.0).map(_ -> false)).toDF("v", "ref")
    assert(Quality.emdReport(near, c("v"), c("ref"), 10.0)
      .collect().head.getAs[Double]("emd") == 10.0)
    val same = (Seq(5.0, 25.0).map(_ -> true) ++
      Seq(5.0, 25.0).map(_ -> false)).toDF("v", "ref")
    assert(Quality.emdReport(same, c("v"), c("ref"), 10.0)
      .collect().head.getAs[Double]("emd") == 0.0)
    // empty slice -> null
    val oneSided = Seq(1.0 -> true).toDF("v", "ref")
    val r2 = Quality.emdReport(oneSided, c("v"), c("ref"), 10.0).collect().head
    assert(r2.isNullAt(r2.fieldIndex("emd")))
  }

  test("Quality.aucReport: hand-checked AUC with ties; single-class is null") {
    import spark.implicits._
    import graft.operators.Quality
    // scores: pos {0.9, 0.7, 0.5}, neg {0.7, 0.3} — pairs: 0.9 beats
    // both (2), 0.7 beats 0.3 and ties 0.7 (1.5), 0.5 beats 0.3 (1)
    // => U = 4.5 of 6 => AUC = 0.75
    val df = Seq((0.9, 1), (0.7, 1), (0.5, 1), (0.7, 0), (0.3, 0))
      .toDF("score", "y")
    val r = Quality.aucReport(df, "score", "y").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.75)
    // perfect separation reads 1.0; reversed reads 0.0
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0)).toDF("score", "y")
    assert(Quality.aucReport(perfect, "score", "y").head().getDouble(3) == 1.0)
    val reversed = Seq((0.1, 1), (0.8, 0)).toDF("score", "y")
    assert(Quality.aucReport(reversed, "score", "y").head().getDouble(3) == 0.0)
    // one class only: auc must be null, not a crash or a 0/0 NaN
    val mono = Seq((0.9, 1), (0.8, 1)).toDF("score", "y")
    assert(Quality.aucReport(mono, "score", "y").head().isNullAt(3))
  }

  test("Quality.kappaReport: hand-checked kappa, null exclusion, degenerate pe") {
    import spark.implicits._
    import graft.operators.Quality
    import org.apache.spark.sql.functions.{col => c}
    // contingency: n11=4, n10=1, n01=1, n00=4 over n=10
    // po = 0.8; pe = (5*5 + 5*5)/100 = 0.5; kappa = 0.3/0.5 = 0.6
    val rows = Seq.fill(4)((Some(true), Some(true))) ++
      Seq((Some(true), Some(false)), (Some(false), Some(true))) ++
      Seq.fill(4)((Some(false), Some(false))) ++
      Seq((None: Option[Boolean], Some(true)),
        (Some(true), None: Option[Boolean])) // excluded pairwise
    val df = rows.toDF("a", "b")
    val r = Quality.kappaReport(df, c("a"), c("b")).head()
    assert(r.getLong(0) == 10L && r.getLong(1) == 4L && r.getLong(4) == 4L)
    assert(r.getDouble(5) == 0.8 && r.getDouble(6) == 0.5)
    // (0.8 - 0.5) carries the usual 0.30000000000000004 IEEE artifact;
    // kappa is deterministic, not pretty
    assert(r.getDouble(7) == (0.8 - 0.5) / 0.5)
    // all-one-class on both sides: pe = 1 -> kappa null, not 0/0
    val mono = Seq((true, true), (true, true)).toDF("a", "b")
    assert(Quality.kappaReport(mono, c("a"), c("b")).head().isNullAt(7))
  }

  test("Quality.evalSummary: hand-checked scorecard on a tiny table") {
    import spark.implicits._
    import graft.operators.Quality
    // tp=2 fp=1 fn=1 tn=2: acc 4/6, P 2/3, R 2/3, F1 2/3
    // brier = mean of (s-y)^2 over exact 6dp scores
    val rows = Seq(
      (0.9, 1), (0.7, 1), (0.3, 1), // tp, tp, fn
      (0.6, 0), (0.2, 0), (0.1, 0)) // fp, tn, tn
    val df = rows.toDF("score", "y")
    val r = Quality.evalSummary(df, "score", "y", bins = 10).head()
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(1) == 4.0 / 6.0)
    assert(r.getDouble(2) == 2.0 / 3.0 && r.getDouble(3) == 2.0 / 3.0)
    val p = 2.0 / 3.0
    assert(r.getDouble(4) == 2.0 * p * p / (p + p))
    val brier = rows.map { case (sc, y) =>
      math.round((sc - y) * (sc - y) * 1e12) }.sum.toDouble / 6 / 1e12
    assert(r.getDouble(5) == brier)
    assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    // degenerate: no predicted positives -> precision/f1 null
    val none = Seq((0.1, 1), (0.2, 0)).toDF("score", "y")
    val d = Quality.evalSummary(none, "score", "y").head()
    assert(d.isNullAt(2) && d.isNullAt(4) && d.getDouble(3) == 0.0)
  }

  test("Quality.bootstrapRatioCi: deterministic, ordered, point-exact") {
    import spark.implicits._
    import graft.operators.Quality
    import org.apache.spark.sql.functions.{col => c}
    // 70 successes of 100
    val df = (1 to 100).map(i => (i.toLong, i <= 70)).toDF("id", "ok")
    def run() = Quality.bootstrapRatioCi(df, c("id"), c("ok"), reps = 32)
      .head()
    val r = run()
    assert(r.getLong(0) == 100L && r.getDouble(1) == 0.7)
    assert(r.getDouble(2) <= r.getDouble(3))
    // the interval brackets the truth and stays inside [0, 1]
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getDouble(2) <= 0.7 && r.getDouble(3) >= 0.7)
    // md5-driven weights: a rerun (and a repartition) is bit-identical
    val again = run()
    assert(again.getDouble(2) == r.getDouble(2) &&
      again.getDouble(3) == r.getDouble(3))
    val shuffled = Quality.bootstrapRatioCi(df.repartition(7), c("id"),
      c("ok"), reps = 32).head()
    assert(shuffled.getDouble(2) == r.getDouble(2) &&
      shuffled.getDouble(3) == r.getDouble(3))
  }

  test("Quality.aucReportBy: per-segment AUC matches per-segment aucReport") {
    import spark.implicits._
    import graft.operators.Quality
    val df = Seq(
      ("a", 0.9, 1), ("a", 0.7, 1), ("a", 0.5, 1), ("a", 0.7, 0),
      ("a", 0.3, 0), // segment a: the q188 ties fixture, AUC 0.75
      ("b", 0.9, 0), ("b", 0.1, 1), // segment b: reversed, AUC 0.0
      ("c", 0.4, 1), ("c", 0.6, 1)) // segment c: single class -> null
      .toDF("seg", "score", "y")
    val by = Quality.aucReportBy(df, "seg", "score", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(by("a") == ((5L, Some(0.75))))
    assert(by("b") == ((2L, Some(0.0))))
    assert(by("c") == ((2L, None)))
    // slice results equal running aucReport on each slice alone
    for (seg <- Seq("a", "b")) {
      val solo = Quality.aucReport(df.filter($"seg" === seg), "score", "y")
        .head()
      assert(Some(solo.getDouble(3)) == by(seg)._2)
    }
  }

  test("triangleStats counts match a brute-force enumeration") {
    import spark.implicits._
    // deterministic pseudo-random graph on 30 nodes
    val edges = (for (i <- 0 until 30; j <- i + 1 until 30
      if (i * 31 + j * 17) % 5 == 0) yield (i, j))
    val df = edges.toDF("s", "t")
    val es = edges.toSet
    def has(a: Int, b: Int) = es.contains((a min b, a max b))
    val brute = (for (a <- 0 until 30; b <- a + 1 until 30; c <- b + 1 until 30
      if has(a, b) && has(a, c) && has(b, c)) yield 1).size
    val row = Graph.triangleStats(df, "s", "t").collect().head
    assert(row.getAs[Long]("n_triangles") == brute.toLong)
    assert(row.getAs[Long]("n_edges") == edges.size.toLong)
  }

  test("bfsHops: chain distances, undirected reach, hop cap, unreachable island") {
    import spark.implicits._
    // chain 1-2-3-4-5-6, island 8-9; source = {1}; edges given in
    // MIXED directions to pin the undirected symmetrization
    val edges = Seq((1, 2), (3, 2), (3, 4), (5, 4), (5, 6), (8, 9))
      .toDF("a", "b")
    val srcs = Seq(1).toDF("s")
    val got = Graph.bfsHops(edges, "a", "b", srcs, "s", maxHops = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 3),
      s"hop cap 3 must stop before 5/6 and never reach the island: $got")
    // uncapped: full chain labeled, island still absent
    val full = Graph.bfsHops(edges, "a", "b", srcs, "s", maxHops = 10)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(full == Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 3, 5 -> 4, 6 -> 5))
    // multi-source: min over sources wins
    val multi = Graph.bfsHops(edges, "a", "b", Seq(1, 6).toDF("s"), "s",
      maxHops = 10).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(multi == Map(1 -> 0, 6 -> 0, 2 -> 1, 5 -> 1, 3 -> 2, 4 -> 2))
  }

  test("jaro_winkler matches DuckDB-pinned values bit-for-bit") {
    import spark.implicits._
    // every expected value below is DuckDB 1.0 jaro_winkler_similarity
    // output, captured verbatim (the fuzz harness proved 40k pairs)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111), // classic textbook pair
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("ebccabd", "ceecbeea", 0.7130952380952381), // odd mismatch count:
      // naive x/2.0 transpositions gives 0.6798 — pins the integer halving
      ("", "", 0.0), // DuckDB scores two empties 0, not 1
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0), // window 0: only same-position matches
      ("héllo", "hello", 0.8400000000000001), // BYTE-level: 6-vs-5
      // bytes (codepoint scoring would give 0.88)
      ("abxxxxxxxxxx", "abyyyyyyyyyy", 0.4444444444444444), // prefix 2
      // but jaro <= 0.7: boost must NOT apply
      ("prefixmatch", "prefixmxtch", 0.9636363636363636)) // prefix 7
      // capped at 4
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(jaroWinkler(col("a"), col("b")))
      .as[Double].collect()
    cases.zip(got).foreach { case ((a, b, want), d) =>
      assert(d == want, s"jw($a, $b): got $d want $want")
    }
    // interpreted eval agrees with the codegen'd path
    cases.foreach { case (a, b, want) =>
      val v = graft.plans.JaroWinklerUtil.score(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"), winkler = true)
      assert(v == want, s"interpreted jw($a, $b): got $v want $want")
    }
    // null propagation
    val n = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(jaroWinkler(col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("bfsHopsPerRoot + closenessReport: per-root distances and centralities") {
    import spark.implicits._
    // path graph 1-2-3-4-5; roots 1 and 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val roots = Seq(1L, 3L).toDF("r")
    val d = Graph.bfsHopsPerRoot(edges, "a", "b", roots, "r", maxHops = 4)
      .collect().map(r => (r.getAs[Long]("root"), r.getAs[Long]("v")) ->
        r.getAs[Int]("hops")).toMap
    assert(d((1L, 5L)) == 4 && d((1L, 3L)) == 2 && d((1L, 1L)) == 0)
    assert(d((3L, 1L)) == 2 && d((3L, 5L)) == 2 && d((3L, 4L)) == 1)
    val c = Graph.closenessReport(edges, "a", "b", roots, "r", maxHops = 4)
      .collect().map(r => r.getAs[Long]("root") -> r).toMap
    // root 1: dists 1,2,3,4 -> closeness 4/10, harmonic 1+1/2+1/3+1/4
    assert(c(1L).getAs[Long]("n_reached") == 4)
    assert(c(1L).getAs[Double]("closeness") == 0.4)
    assert(math.abs(c(1L).getAs[Double]("harmonic") -
      (1.0 + 0.5 + 1.0 / 3 + 0.25)) < 1e-5)
    // root 3 (center): dists 1,1,2,2 -> closeness 4/6, harmonic 3
    assert(math.abs(c(3L).getAs[Double]("closeness") - 4.0 / 6.0) < 1e-12)
    assert(math.abs(c(3L).getAs[Double]("harmonic") - 3.0) < 1e-5)
    // the hop bound prunes: maxHops=1 from root 1 reaches only node 2
    val b = Graph.closenessReport(edges, "a", "b",
      Seq(1L).toDF("r"), "r", maxHops = 1).collect().head
    assert(b.getAs[Long]("n_reached") == 1 && b.getAs[Double]("closeness") == 1.0)
  }
}
