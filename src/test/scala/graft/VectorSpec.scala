package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.plans.SimplifySqrtThreshold

/** Native codegen vector expressions vs the declarative HOF forms:
  * bit-identical (same fold order) — this is what guarantees DuckDB
  * oracle parity survives the fast path. */
class VectorSpec extends SparkSuite {

  private lazy val emb = {
    Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
  }

  test("fastDot is bit-identical to the HOF dot fold") {
    val pairs = emb.limit(50).crossJoin(
      emb.select(col("emb").as("emb2")).limit(50))
    val diff = pairs.select(
      (fastDot(col("emb"), col("emb2")) - dot(col("emb"), col("emb2"))).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff == 0.0)
  }

  test("fastSquaredL2 is bit-identical to the HOF fold") {
    val pairs = emb.limit(50).crossJoin(
      emb.select(col("emb").as("emb2")).limit(50))
    val diff = pairs.select(
      (fastSquaredL2(col("emb"), col("emb2")) - squaredL2(col("emb"), col("emb2"))).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff == 0.0)
  }

  test("LSH near-dup is a high-recall subset of the exact pairs") {
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
    val exact = Similarity.nearDupPairs(e, "vec_id", "emb", 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nBits=6 gives p_match ~= (1 - acos(0.4)/pi)^6 ~= 0.063 per table;
    // 10 tables put expected recall near 0.48, so the 0.3 bar tests the
    // mechanism, not the luck of one sign-matrix draw
    val lsh = Similarity.lshNearDup(e, "vec_id", "emb",
        threshold = 0.4, nBits = 6, nTables = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH pairs must be exact-rescored (no false positives)")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall (${lsh.size}/${exact.size})")
  }

  test("mutualTopK fused exact pass equals composing topK per direction") {
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("label"), asDoubleVec(col("embedding")).as("emb"))
    val x = e.filter(col("label") <= 4)
      .select(col("vec_id").as("x_id"), col("emb").as("x_vec"))
    val y = e.filter(col("label") >= 5)
      .select(col("vec_id").as("y_id"), col("emb").as("y_vec"))
    val k = 3
    val mk = Similarity.mutualTopK(x, "x_id", "x_vec", y, "y_id", "y_vec", k)
    val fwd = Similarity.topK(x, "x_id", "x_vec", y, "y_id", "y_vec", k)
      .select("x_id", "y_id", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bwd = Similarity.topK(y, "y_id", "y_vec", x, "x_id", "x_vec", k)
      .select("x_id", "y_id", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mf = mk.filter(col("rank_f") <= k)
      .select("x_id", "y_id", "sim", "rank_f").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mb = mk.filter(col("rank_b") <= k)
      .select("x_id", "y_id", "sim", "rank_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(mf == fwd, "forward ranking diverged from the per-direction topK")
    assert(mb == bwd, "backward ranking diverged from the per-direction topK")
    // the routed (above-cap) form filters identically: ranks beyond k
    // are null there, and null <= k is null -> dropped, same as here
    assert(mk.filter(col("rank_f") <= k || col("rank_b") <= k).count() == mk.count())
  }

  test("SimplifySqrtThreshold removes the sqrt from similarity predicates") {
    import org.apache.spark.sql.functions.{col => c, lit, sqrt => sqrtF}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
    val t = e.select(c("vec_id").as("t_id"), c("emb").as("t_emb")).limit(3)
    val joined = e.join(org.apache.spark.sql.functions.broadcast(t),
      sqrtF(fastSquaredL2(c("emb"), c("t_emb"))) <= lit(1.2))
    // the rule is injected only by GraftExtensions (SQL users); the
    // plain test session does not run it, so apply it here
    val optimized = SimplifySqrtThreshold(joined.queryExecution.optimizedPlan).toString
    assert(!optimized.toLowerCase.contains("sqrt"),
      s"sqrt should be strength-reduced away:\n$optimized")
    assert(optimized.contains("1.44"), "squared tolerance expected in the plan")
    // results identical to the unoptimized predicate semantics
    val viaRule = joined.count()
    val direct = e.join(org.apache.spark.sql.functions.broadcast(t),
      fastSquaredL2(c("emb"), c("t_emb")) <= lit(1.2 * 1.2)).count()
    assert(viaRule == direct)
  }

  test("thresholdMatch compares squared distances and rejects a negative tolerance") {
    import org.apache.spark.sql.functions.{col => c}
    val sp = spark
    import sp.implicits._
    val probes = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 10.0))).toDF("p_id", "p_vec")
    val targets = Seq((7L, Seq(3.0, 4.0), "seven")).toDF("t_id", "t_vec", "label")
    def matched(tol: Double) = Similarity.thresholdMatch(probes, "p_id", "p_vec",
        targets, "t_id", "t_vec", "label", tol)
    // distance exactly 5: inside at tolerance 5, outside just below it
    val at5 = matched(5.0)
    assert(at5.orderBy(c("p_id")).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((1L, "seven", 1L), (2L, null, 0L)))
    assert(!at5.queryExecution.optimizedPlan.toString.toLowerCase.contains("sqrt"))
    assert(matched(4.999).filter(c("n_matches") > 0).count() == 0)
    val e = intercept[IllegalArgumentException](matched(-1.0))
    assert(e.getMessage.contains("tolerance"))
  }

  test("IVF top-k recall vs exact brute force") {
    import org.apache.spark.sql.functions.{col => c}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"), c("label"))
    val probes = e.filter(c("vec_id") < 50).select(c("vec_id").as("p_id"), c("emb").as("p_vec"))
    val tg = e.select(c("vec_id").as("t_id"), c("emb").as("t_vec"))
    val exact = Similarity.topK(probes, "p_id", "p_vec", tg, "t_id", "t_vec", k = 3)
      .select("p_id", "t_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quantizer = Similarity.centroidsAsQuantizer(e, "label", "emb")
    val ivf = Similarity.ivfTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
        quantizer, "cell", "centroid_vec", k = 3, nProbe = 4)
      .select("p_id", "t_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
    // full-coverage sanity: nProbe = all cells must reproduce exact top-k
    val full = Similarity.ivfTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
        quantizer, "cell", "centroid_vec", k = 3, nProbe = 10)
      .select("p_id", "t_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nProbe covering every cell must equal brute force")
  }

  test("batched partition-wise decode preserves ids and emits fixed-dim features") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Tables.documents(spark, sf("0.001"))
    val ingested = graft.operators.Multimodal.ingestText(docs, "doc_id", "text")
    val decoded = graft.operators.Multimodal.decodeBatched(ingested, "doc_id", batchSize = 32)
    assert(decoded.count() == docs.count())
    val row = decoded.orderBy("doc_id").head
    assert(row.getSeq[Double](row.fieldIndex("features")).length == 8)
    // deterministic across runs
    val again = graft.operators.Multimodal.decodeBatched(ingested, "doc_id", batchSize = 7)
      .orderBy("doc_id").head
    assert(again.getSeq[Double](again.fieldIndex("features")) ==
      row.getSeq[Double](row.fieldIndex("features")))
  }

  test("kMeans is deterministic and exact as a full-coverage IVF quantizer") {
    import org.apache.spark.sql.functions.{col => c}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
    def run() = Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 3)
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val a = run()
    assert(a.length == 8)
    assert(a.map(_._2).sum == e.count(), "every vector assigned to exactly one cell")
    assert(a.toSeq == run().toSeq, "decimal-accumulated means must be run-invariant")
    // used as an IVF quantizer with nProbe = k, results must equal brute force
    val probes = e.filter(c("vec_id") < 30).select(c("vec_id").as("p_id"), c("emb").as("p_vec"))
    val tg = e.select(c("vec_id").as("t_id"), c("emb").as("t_vec"))
    val quantizer = Similarity.kMeans(e, "vec_id", "emb", k = 8, iters = 3)
      .select(c("cell"), c("centroid_vec"))
    val exact = Similarity.topK(probes, "p_id", "p_vec", tg, "t_id", "t_vec", k = 3)
      .select("p_id", "t_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
        quantizer, "cell", "centroid_vec", k = 3, nProbe = 8)
      .select("p_id", "t_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nProbe covering every trained cell must equal brute force")
  }

  test("kMeans keeps cells emptied by duplicate init vectors (n_members 0)") {
    import spark.implicits._
    // vec_ids 1-4 share one embedding: cells 0-3 init identically and
    // ties go to the lower cell. After iter 1 every point sits in cell
    // 0; its centroid drifts toward the far pair, so iter 2 re-assigns
    // the shared points to cell 1 — cells 2-3 end with zero members but
    // must still come back in the model
    val shared = Seq.fill(4)(1.0) ++ Seq.fill(4)(0.0)
    val far = Seq.fill(4)(0.0) ++ Seq.fill(4)(1.0)
    val vecs = ((1L to 4L).map(i => (i, shared)) ++ Seq((5L, far), (6L, far)))
      .toDF("vec_id", "emb")
    val model = Similarity.kMeans(vecs, "vec_id", "emb", k = 4, iters = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(model.keySet == Set(0, 1, 2, 3), "all k cells present")
    assert(model.values.count(_ == 0L) >= 2,
      s"duplicate-init cells must report 0 members, not vanish: $model")
    assert(model.values.sum == 6L)
  }

  test("product quantization: valid codes, deterministic, better than 1-cell codebooks") {
    import org.apache.spark.sql.functions.{col => c}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
    def run(k: Int) = Similarity.productQuantize(e, "vec_id", "emb", m = 2, k = k, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
    val pq = run(8)
    assert(pq.length == e.count())
    assert(pq.forall { case (_, codes, _) => codes.length == 2 && codes.forall(cd => cd >= 0 && cd < 8) })
    // k=1 degenerates to "every subvector -> the global mean": more cells
    // must reconstruct at least as well on average
    val errK8 = pq.map(_._3).sum / pq.length
    val errK1 = run(1).map(_._3).sum / pq.length
    assert(errK8 < errK1, s"8-cell codebooks must beat 1-cell: $errK8 vs $errK1")
    // deterministic codes across runs
    assert(run(8).map(t => (t._1, t._2)).toSeq == pq.map(t => (t._1, t._2)).toSeq)
  }

  test("sample-trained PQ codebooks reconstruct nearly as well as full training") {
    import org.apache.spark.sql.functions.{col => c}
    val e = Tables.embeddings(spark, sf("0.01"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
    def meanErr(ts: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Similarity.productQuantize(e, "vec_id", "emb", m = 2, k = 8, iters = 2,
          trainSample = ts)
        .agg(avg(c("recon_err"))).head.getDouble(0)
    val full = meanErr(identity)
    val sampled = meanErr(_.sort(c("vec_id")).limit(200)) // 200 of 800 vectors
    assert(sampled <= full * 1.3,
      s"a 25% training sample must reconstruct within 30% of full training: " +
        s"$sampled vs $full")
    // the DEFAULT trainSample is the bounded deterministic cut — same
    // model as spelling the lowest-256*k-ids sample out explicitly
    val byDefault = Similarity.productQuantize(e, "vec_id", "emb", m = 2, k = 8,
        iters = 2).orderBy(c("vec_id")).collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val explicit = Similarity.productQuantize(e, "vec_id", "emb", m = 2, k = 8,
        iters = 2, trainSample = _.sort(c("vec_id")).limit(256 * 8))
      .orderBy(c("vec_id")).collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(byDefault.toSeq == explicit.toSeq,
      "default trainSample must be the deterministic lowest-id cut")
  }

  test("pqTopK (ADC) self-retrieval: codes-only scoring finds the encoded twin") {
    import org.apache.spark.sql.functions.{col => c}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
    val books = Similarity.pqCodebooks(e, "vec_id", "emb", m = 4, k = 16, iters = 2)
    val coded = Similarity.pqEncode(e, "vec_id", "emb", books)
      .select(c("vec_id").as("t_id"), c("codes"))
    val probes = e.filter(c("vec_id") < 40)
      .select(c("vec_id").as("p_id"), c("emb").as("p_vec"))
    val top = Similarity.pqTopK(probes, "p_id", "p_vec", coded, "t_id", books, k = 3)
      .collect()
    assert(top.nonEmpty)
    // a probe's own encoding achieves the minimum possible ADC (its
    // reconstruction error), so self must appear in top-3 except for
    // exact code-collisions with lower ids
    val selfHits = top.count(r => r.getLong(0) == r.getLong(1))
    assert(selfHits >= 35, s"self-retrieval too weak: $selfHits/40")
  }

  test("int8 quantization bounds reconstruction error by scale/2") {
    import org.apache.spark.sql.functions.{col => c}
    val q = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"))
      .withColumn("scale", int8Scale(c("emb")))
      .withColumn("q", quantizeInt8(c("emb"), c("scale")))
      .withColumn("err", dequantMaxErr(c("emb"), c("q"), c("scale")))
    val bad = q.filter(c("err") > c("scale") / 2 + lit(1e-12)).count()
    assert(bad == 0, "max-abs quantization error must be <= scale/2")
    val outOfRange = q.select(explode(c("q")).as("qi"))
      .filter(abs(c("qi")) > 127).count()
    assert(outOfRange == 0, "quantized values must fit int8")
  }

  test("CentroidAggregator matches the exploded avg form") {
    import spark.implicits._
    val ds = Tables.embeddings(spark, sf("0.001"))
      .select(col("label"), asDoubleVec(col("embedding")).as("emb"))
      .as[(Int, Seq[Double])]
    val byAggregator = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(Similarity.CentroidAggregator.toColumn.name("centroid"))
      .collect().toMap
    val byAvg = Similarity.labelCentroids(
        Tables.embeddings(spark, sf("0.001")).select(col("label"), asDoubleVec(col("embedding")).as("emb")),
        "label", "emb", roundTo = 6)
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq).toMap
    for ((label, c) <- byAggregator) {
      val expect = byAvg(label)
      assert(c.length == expect.length)
      c.zip(expect).foreach { case (a, b) =>
        assert(math.abs(BigDecimal(a).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble - b) <= 1e-6)
      }
    }
  }

  test("randomProject preserves pairwise distances in the JL sense") {
    val e = emb.withColumnRenamed("emb", "v")
    val out = Similarity.randomProject(e, "vec_id", "v", dOut = 16, seed = 7L)
    val ratios = out.select(col("norm_ratio")).collect().map(_.getDouble(0))
    // per-vector norm distortion: unbiased in expectation, so the MEAN
    // must sit tight around 1 even though single rows wander
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean norm ratio $mean")
    assert(ratios.forall(r => r > 0.2 && r < 3.0), "pathological distortion")
    // pairwise: projected distance tracks true distance on sampled pairs
    val proj = out.select(col("vec_id"), col("proj"))
    val joined = e.filter(col("vec_id") < 20).join(
        proj.withColumnRenamed("vec_id", "pid"), col("vec_id") === col("pid"))
      .select(col("vec_id"), col("v"), col("proj"))
    val rows = joined.collect().map(r =>
      (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val dists = for {
      i <- rows.indices; j <- rows.indices if i < j
    } yield (d2(rows(i)._1, rows(j)._1), d2(rows(i)._2, rows(j)._2))
    val meanRatio = dists.map { case (t, p) => p / t }.sum / dists.length
    assert(math.abs(meanRatio - 1.0) < 0.2,
      s"mean pairwise distance ratio $meanRatio (JL expectation is 1)")
    // determinism: the sign matrix is content-derived, not RNG state
    val again = Similarity.randomProject(e, "vec_id", "v", dOut = 16, seed = 7L)
    assert(out.exceptAll(again).isEmpty)
  }

  test("ivfTopK accepts string/long cell ids (quantizer type is caller's choice)") {
    import org.apache.spark.sql.functions.{col => c, concat, lit}
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(c("vec_id"), asDoubleVec(c("embedding")).as("emb"), c("label"))
    val probes = e.filter(c("vec_id") < 20).select(c("vec_id").as("p_id"), c("emb").as("p_vec"))
    val tg = e.select(c("vec_id").as("t_id"), c("emb").as("t_vec"))
    val intQ = Similarity.centroidsAsQuantizer(e, "label", "emb")
    def run(q: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(probes, "p_id", "p_vec", tg, "t_id", "t_vec",
          q, "cell", "centroid_vec", k = 3, nProbe = 4)
        .select("p_id", "t_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaInt = run(intQ)
    // same quantizer with string cells "c0".."c9" — lexicographic order
    // matches numeric order for single-digit labels, so the lower-cell
    // tie-break is identical and results must match exactly
    val viaString = run(intQ.select(
      concat(lit("c"), c("cell")).as("cell"), c("centroid_vec")))
    val viaLong = run(intQ.select(c("cell").cast("long").as("cell"), c("centroid_vec")))
    assert(viaInt.nonEmpty && viaString == viaInt && viaLong == viaInt)
  }

  test("lshNearDup hot-bucket guard refines oversized buckets without losing exact dups") {
    import spark.implicits._
    def noise(i: Long, j: Int): Double =
      (((i * 2654435761L + j * 40503L) % 1000L) / 1000.0) * 2.0 - 1.0
    def vec(i: Long): Seq[Double] =
      if (i >= 500) vec(i - 500) // exact duplicates of ids 0..9
      else Seq.tabulate(8)(j => (if (j == 0) 0.5 else 0.0) + noise(i, j))
    val ids = (0L until 300L) ++ (500L until 510L)
    val e = ids.map(i => (i, vec(i))).toDF("vec_id", "v")
    // threshold -1 turns the rescore into a pass-through, so the output
    // IS the candidate set — the thing the guard bounds
    def cands(maxBucket: Long) = Similarity.lshNearDup(e, "vec_id", "v",
        threshold = -1.0, nBits = 2, nTables = 4, seed = 1000,
        maxBucket = maxBucket, refineBits = 6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = cands(Long.MaxValue)
    val guarded = cands(32) // every 2-bit bucket holds ~75 >> 32 vectors
    assert(guarded.subsetOf(unguarded), "the guard must only remove candidates")
    // per-TABLE refinement keys are an OR across the 4 tables — a pair
    // stays if ANY shared hot bucket's sub-keys collide — so the guard
    // deliberately retains more candidates than a single shared key
    // would (that key correlated refinement misses across tables and
    // collapsed recall to one trial); the bound here is that it still
    // cuts the hot-bucket pair mass meaningfully
    assert(guarded.size < unguarded.size * 3 / 4,
      s"guard must cut hot-bucket candidates: ${guarded.size} vs ${unguarded.size}")
    // identical vectors share every table bucket AND the refinement key
    for (i <- 0L until 10L)
      assert(guarded.contains((i, i + 500)), s"exact dup pair ($i, ${i + 500}) lost")
    // and the real (threshold-rescored) output still finds the dups
    val real = Similarity.lshNearDup(e, "vec_id", "v", threshold = 0.99,
        nBits = 2, nTables = 4, seed = 1000, maxBucket = 32, refineBits = 6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 10L)
      assert(real.contains((i, i + 500)), s"exact dup pair ($i, ${i + 500}) not rescored")
  }

  test("semDedup hot-cell guard bounds pair work on a skewed corpus without losing exact dups") {
    import spark.implicits._
    // skewed fixture: 400 vectors spread widely around +e1 (one fat
    // cluster — the cell skew real embedding corpora have), 4 far away
    // near -e1, and 20 planted EXACT duplicates of ids 0..19
    def noise(i: Long, j: Int): Double =
      (((i * 2654435761L + j * 40503L) % 1000L) / 1000.0) * 2.0 - 1.0
    def vec(i: Long): Seq[Double] =
      if (i >= 500) vec(i - 500)
      else if (i >= 400) Seq.tabulate(8)(j => if (j == 0) -3.0 else 0.1 * (i - 401))
      else Seq.tabulate(8)(j => (if (j == 0) 0.5 else 0.0) + noise(i, j))
    val ids = (0L until 404L) ++ (500L until 520L)
    val e = ids.map(i => (i, vec(i))).toDF("vec_id", "v")
    val threshold = 0.95
    val guarded = Similarity.semDedup(e, "vec_id", "v", threshold,
        k = 2, iters = 1, guardCellSize = 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(guarded.size == ids.size, "every input vector must come back")
    // identical vectors share the cell AND every LSH bucket — the guard
    // can never lose an exact duplicate
    for (i <- 500L until 520L)
      assert(!guarded(i), s"exact duplicate $i survived the guarded path")
    // soundness: everything dropped has a lower-id true near-duplicate
    val juniors = Similarity.nearDupPairs(e.withColumnRenamed("v", "emb"),
        "vec_id", "emb", threshold)
      .collect().map(_.getLong(1)).toSet
    val dropped = guarded.collect { case (id, false) => id }.toSet
    assert(dropped.subsetOf(juniors), s"dropped non-duplicates: ${dropped.diff(juniors)}")
    // the point of the guard: candidate pairs in the hot cell are
    // bounded by LSH bucket sizes, far below the exhaustive square
    def pairCount(guardCellSize: Long): Long = {
      val matrix = Array(vec(0), vec(400)).map(_.toArray) // any 2-cell assignment
      val assigned = e.select(col("vec_id"), col("v"), nearestCell(col("v"), matrix).as("cell"))
      val keyed = Similarity.semDedupKeyed(assigned, "vec_id", "v",
        guardCellSize, guardBits = 6, guardTables = 8, guardSeed = 4000)
      val a = keyed.select(col("cell"), col("tbl"), col("bucket"), col("vec_id").as("a_id"))
      val b = keyed.select(col("cell"), col("tbl"), col("bucket"), col("vec_id").as("b_id"))
      a.join(b, Seq("cell", "tbl", "bucket")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct().count()
    }
    val exhaustive = pairCount(guardCellSize = 1L << 30)
    val bounded = pairCount(guardCellSize = 64)
    assert(bounded < exhaustive / 2,
      s"guard must cut the hot cell's pair space: $bounded vs $exhaustive")
  }

  test("semDedup is sound (drops only true near-dups) and misses only cross-cell pairs") {
    val e = emb.withColumnRenamed("emb", "v")
    val threshold = 0.4
    val out = Similarity.semDedup(e, "vec_id", "v", threshold, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out.size == e.count(), "every input vector must come back")
    val cellOf = out.view.mapValues(_._1).toMap
    val dropped = out.collect { case (id, (_, false)) => id }.toSet
    // ground truth: the exact quadratic near-dup pairs
    val truePairs = Similarity.nearDupPairs(
        e.withColumnRenamed("v", "emb"), "vec_id", "emb", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val juniors = truePairs.map(_._2).toSet
    // soundness: everything dropped really has a lower-id near-duplicate
    assert(dropped.subsetOf(juniors),
      s"dropped non-duplicates: ${dropped.diff(juniors)}")
    assert(dropped.nonEmpty, "test corpus is known to contain near-dups")
    // completeness caveat (the SemDeDup tradeoff, documented in the
    // scaladoc): a junior survives ONLY when every one of its senior
    // partners sits in a different cell
    for (j <- juniors.diff(dropped)) {
      val seniors = truePairs.collect { case (a, b) if b == j => a }
      assert(seniors.forall(a => cellOf(a) != cellOf(j)),
        s"junior $j kept despite a same-cell senior")
    }
  }

  test("signPack packs the sign pattern exactly and Hamming counts differing dims") {
    import spark.implicits._
    val v1 = Array.tabulate(64)(j => if (j % 3 == 0) 1.0 else -1.0)
    val v2 = v1.clone(); v2(0) = -1.0; v2(63) = -v2(63) // flip 2 dims
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq)).toDF("id", "v")
      .withColumn("code", signPack(col("v"), 64))
    val codes = df.select(col("id"), col("code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // word 0 of v1: bits 0,3,6,...,30 set
    val expectW0 = (0 until 32).filter(_ % 3 == 0).map(1L << _).sum
    assert(codes(1L).head == expectW0)
    assert(codes(1L).forall(w => w >= 0 && w <= 0xffffffffL),
      "32-bit words must never set the sign bit")
    val ham = df.filter(col("id") === 1)
      .crossJoin(df.filter(col("id") === 2).select(col("code").as("c2")))
      .select(hammingDist(col("code"), col("c2"), 64)).head.getLong(0)
    assert(ham == 2L, s"exactly the two flipped dims differ, got $ham")
  }

  test("hammingTopK shortlist recalls most exact top-3 neighbors") {
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
    val tg = emb.filter(col("vec_id") >= 30)
      .select(col("vec_id").as("t_id"), col("emb").as("t_vec"))
    def recallAt(mCand: Int): Double = {
      val got = Similarity.hammingTopK(probes, "p_id", "p_vec",
          tg, "t_id", "t_vec", d = 64, mCand = mCand, k = 3)
        .select(col("p_id"), col("t_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.topK(probes, "p_id", "p_vec",
          tg, "t_id", "t_vec", k = 3)
        .select(col("p_id"), col("t_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val narrow = recallAt(16)
    val wide = recallAt(64)
    assert(wide >= 0.75,
      s"1-bit codes at mCand=64 should recall most exact top-3, got $wide")
    assert(wide > narrow,
      s"recall must improve with shortlist width: $narrow -> $wide")
  }

  test("pcaPowerProject recovers a planted dominant direction") {
    import spark.implicits._
    // planted model: dim 0 has 10x the variance of every other dim, so
    // the principal direction must align with e0 and the projection
    // must (up to global sign) track the dim-0 coordinate's deviation
    def noise(i: Long, j: Int): Double =
      (((i * 2654435761L + j * 97003L) % 2000L) / 1000.0 - 1.0) * 0.1
    val rows = (0L until 300L).map { i =>
      (i, Seq.tabulate(8)(j =>
        (if (j == 0) (i % 20).toDouble - 9.5 else 0.0) + noise(i, j)))
    }
    val df = rows.toDF("vec_id", "v")
    val out = Similarity.pcaPowerProject(df, "vec_id", "v", d = 8, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val x0 = rows.map { case (i, v) => i -> v.head }.toMap
    val mean0 = x0.values.sum / x0.size
    // Pearson correlation between pc1 and the centered dim-0 coordinate
    val pairs = rows.map { case (i, _) => (out(i), x0(i) - mean0) }
    val (sa, sb) = (pairs.map(_._1).sum / pairs.size, pairs.map(_._2).sum / pairs.size)
    val cov = pairs.map { case (a, b) => (a - sa) * (b - sb) }.sum
    val va = math.sqrt(pairs.map(p => (p._1 - sa) * (p._1 - sa)).sum)
    val vb = math.sqrt(pairs.map(p => (p._2 - sb) * (p._2 - sb)).sum)
    val corr = math.abs(cov / (va * vb))
    assert(corr > 0.99, s"pc1 must align with the planted axis, got |r|=$corr")
    // unit direction: projection magnitude bounded by the centered norm
    val maxAbs = out.values.map(math.abs).max
    assert(maxAbs <= 11.0, s"unit-direction projections stay in data range, got $maxAbs")
  }

  test("prototypicality prunes the centroid-nearest fraction per label") {
    import spark.implicits._
    // label 0: nine near-identical prototypes + one outlier pointing away
    val proto = Seq.tabulate(9)(i =>
      (i.toLong, Seq(1.0, 0.01 * i, 0.0), 0))
    val outlier = Seq((9L, Seq(-1.0, 0.5, 0.0), 0))
    // label 1: a second class so the grouping is exercised
    val other = Seq.tabulate(5)(i => (10L + i, Seq(0.0, 1.0, 0.02 * i), 1))
    val df = (proto ++ outlier ++ other).toDF("vec_id", "v", "label")
    val out = Similarity.prototypicality(df, "vec_id", "v", "label",
        pruneFrac = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    // the outlier is least prototypical -> always kept
    assert(out(9L)._2, "outlier must survive pruning")
    assert(out(9L)._1 == out.filterKeys(_ <= 9L).values.map(_._1).min,
      "outlier must have the lowest cosine to its label centroid")
    // 30% of 10 = 3 pruned in label 0; 30% of 5 -> ceil(1.5)=2 pruned in label 1
    assert(out.filterKeys(_ <= 9L).values.count(!_._2) == 3)
    assert(out.filterKeys(_ >= 10L).values.count(!_._2) == 2)
  }

  test("centroidDrift: identical slices read cosine~1/l2=0; known shift exact") {
    import spark.implicits._
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col => c}
    // same vectors in both slices -> same centroid
    val same = Seq((0L, Seq(0.25, 0.5)), (1L, Seq(0.25, 0.5)),
      (2L, Seq(0.75, -0.5)), (3L, Seq(0.75, -0.5)))
      .toDF("vec_id", "emb")
    val r = Similarity.centroidDrift(same, "emb", c("vec_id") % 2 === 0)
      .collect().head
    assert(r.getAs[Long]("n_ref") == 2L && r.getAs[Long]("n_cur") == 2L)
    assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(r.getAs[Double]("l2_centroids") == 0.0)
    // cur centroid = ref centroid shifted by exactly 0.5 on dim 0
    val shifted = Seq((0L, Seq(0.25, 0.5)), (2L, Seq(0.75, 0.5)),
      (1L, Seq(0.75, 0.5)), (3L, Seq(1.25, 0.5)))
      .toDF("vec_id", "emb")
    val r2 = Similarity.centroidDrift(shifted, "emb", c("vec_id") % 2 === 0)
      .collect().head
    assert(r2.getAs[Double]("l2_centroids") == 0.5)
    // orthogonal sum vectors -> cosine exactly 0
    val ortho = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "emb")
    val r3 = Similarity.centroidDrift(ortho, "emb", c("vec_id") % 2 === 0)
      .collect().head
    assert(r3.getAs[Double]("cosine") == 0.0)
    // an empty slice reads null, not a crash
    val oneSide = Seq((0L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "emb")
    val r4 = Similarity.centroidDrift(oneSide, "emb", c("vec_id") % 2 === 0)
      .collect().head
    assert(r4.isNullAt(r4.fieldIndex("cosine")))
  }

  test("lshTablesFor: hand-checked solutions and monotonicity") {
    import graft.operators.Similarity
    // p(0.4) = 1 - arccos(0.4)/pi = 0.631; p^4 = 0.1585;
    // ceil(ln(0.1)/ln(1-0.1585)) = 14
    assert(Similarity.lshTablesFor(0.4, 0.9, 4) == 14)
    assert(Similarity.lshTablesFor(0.4, 0.9, 3) == 8)
    assert(Similarity.lshTablesFor(0.4, 0.9, 6) == 36)
    // more bits -> more tables; higher target -> more tables;
    // higher threshold -> fewer tables
    assert(Similarity.lshTablesFor(0.4, 0.99, 4) >
      Similarity.lshTablesFor(0.4, 0.9, 4))
    assert(Similarity.lshTablesFor(0.8, 0.9, 4) <
      Similarity.lshTablesFor(0.4, 0.9, 4))
    assert(Similarity.lshTablesFor(0.99, 0.9, 1) == 1)
  }
}
