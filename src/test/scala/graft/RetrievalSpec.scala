package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Retrieval-tier semantics on hand-computable fixtures: BM25 scoring
  * math, RRF fusion behavior, and the hard-negative label contract.
  * Oracle hash parity at sf0.01 is the driver's job (q97-q99); these
  * pin the operator semantics the oracles assume. */
class RetrievalSpec extends SparkSuite {

  import spark.implicits._

  test("bm25TopK reproduces the hand-computed score on a tiny corpus") {
    // 3 docs; query term "cat" appears in docs 1 (tf=2, dl=4) and 2
    // (tf=1, dl=2); N=3, avgdl=3, df(cat)=2
    val docs = Seq(
      (1L, "cat sat cat mat"),
      (2L, "cat dog"),
      (3L, "dog ran fast")).toDF("doc_id", "text")
    val q = Seq((100L, "cat")).toDF("q_id", "term")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", q, "q_id", "term",
        k = 5, logIdf = false)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sortBy(_._3)
    def score(tf: Int, dl: Int): Double = {
      val idf = (3 - 2 + 0.5) / (2 + 0.5) // odds IDF, df=2, N=3
      val t = tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
      BigDecimal(math.round(idf * t * 1e6)) .toDouble / 1e6
    }
    assert(got.map(_._1) == Seq(1L, 2L), s"doc 1 (tf=2) outranks doc 2 (tf=1): $got")
    assert(math.abs(got(0)._2 - score(2, 4)) < 1e-9, s"doc1 score: $got")
    assert(math.abs(got(1)._2 - score(1, 2)) < 1e-9, s"doc2 score: $got")
  }

  test("bm25TopK multi-term queries sum per-term scores; unmatched docs absent") {
    val docs = Seq(
      (1L, "alpha beta"),
      (2L, "alpha alpha"),
      (3L, "gamma delta")).toDF("doc_id", "text")
    val q = Seq((7L, "alpha"), (7L, "beta")).toDF("q_id", "term")
    val rows = Retrieval.bm25TopK(docs, "doc_id", "text", q, "q_id", "term",
      k = 5, logIdf = false).collect()
    val byDoc = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(!byDoc.contains(3L), "doc without any query term must not score")
    // doc 1 matches both terms, doc 2 only one but with higher tf; the
    // rarer 'beta' (df=1) outweighs the repeated 'alpha' (df=2)
    assert(byDoc(1L) > byDoc(2L), s"two matched terms beat one: $byDoc")
  }

  test("rrfFuse ranks dual-list hits above single-list hits at equal ranks") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q_id", "doc_id", "rank")
    val b = Seq((1L, 10L, 2), (1L, 12L, 1)).toDF("q_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(a, b, "q_id", "doc_id", k = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got.map(_._1) == Seq(10L, 12L, 11L),
      s"doc 10 (both lists) first, then rank-1 single hits by score: $got")
    assert(math.abs(got(0)._2 - (1.0 / 61 + 1.0 / 62)) < 1e-12)
    assert(math.abs(got(1)._2 - 1.0 / 61) < 1e-12)
  }

  test("indexed BM25 equals inline BM25 and never shuffles the postings side") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("_postings", "_df", "_stats").foreach(s =>
        Catalog.dropTable(spark, s"graft_bm25$s"))
      val docs = Tables.documents(spark, sf("0.001"))
      val q = docs.filter(col("doc_id") < 8)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
      Retrieval.bm25BuildIndex(docs, "doc_id", "text", "graft_bm25", nBuckets = 4)
      val indexed = Retrieval.bm25TopKIndexed(spark, "graft_bm25",
        q, "q_id", "term", k = 5, logIdf = false)
      val inline = Retrieval.bm25TopK(docs, "doc_id", "text",
        q, "q_id", "term", k = 5, logIdf = false)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      assert(canon(indexed) == canon(inline.withColumnRenamed("doc_id", "doc")),
        "index-backed ranking must equal the inline ranking")
      // plan pin: the postings/df tables are read pre-bucketed on t —
      // the only hash exchanges are the tiny query side and the
      // (query-bounded) score/window aggregations, never the index
      // AQE's toString appends the pre-adaptive "Initial Plan" — slice
      // it off so exchanges aren't double-counted
      val p = indexed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"),
        s"postings scan must use its buckets:\n${p.take(2500)}")
      // budget: query-side t-exchange + score groupBy + ranking window
      // — anything above means an index-side shuffle crept in
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
        s"bucketed postings/df must not be shuffled:\n${p.take(2500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("_postings", "_df", "_stats").foreach(s =>
        Catalog.dropTable(spark, s"graft_bm25$s"))
    }
  }

  test("hardNegatives never returns the anchor's own label and caps the batch") {
    val e = Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDoubleVec(col("embedding")).as("emb"),
        col("label"))
    val anchors = e.filter(col("vec_id") < 4)
    val got = Retrieval.hardNegatives(anchors, "vec_id", "emb", "label",
      e, "vec_id", "emb", "label", k = 3)
    val anchorLabels = anchors.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.nonEmpty && rows.length <= anchorLabels.size * 3)
    rows.foreach { r =>
      assert(r.getInt(2) != anchorLabels(r.getLong(0)),
        s"negative must differ from anchor label: $r")
    }
    // per-anchor ranks are 1..k without gaps
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length).toSeq)
    }
    val tooMany = intercept[IllegalArgumentException] {
      Retrieval.hardNegatives(e, "vec_id", "emb", "label",
        e, "vec_id", "emb", "label", k = 3, anchorLimit = 1)
    }
    assert(tooMany.getMessage.contains("anchor"))
  }

  test("rankingMetrics: hand-checked NDCG/MRR/P@k/recall on a tiny run") {
    // qrels: q1 -> {d1, d2, d3}; q2 -> {d9}
    // run@3 for q1: d1(r1, rel), d5(r2, not), d2(r3, rel)
    //   DCG = 1/log2(2) + 1/log2(4) = 1 + 0.5 = 1.5
    //   IDCG (3 rels, k=3) = 1 + 1/log2(3) + 0.5
    // run for q2: no relevant retrieved -> zeros
    val run = Seq(
      (1L, 1L, 1), (1L, 5L, 2), (1L, 2L, 3),
      (2L, 1L, 1), (2L, 2L, 2), (2L, 3L, 3)).toDF("q", "doc", "rank")
    val qrels = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 9L))
      .toDF("q", "doc")
    val m = Retrieval.rankingMetrics(run, "q", "doc", "rank", qrels, k = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    val disc = Retrieval.ndcgDiscounts(3)
    val cum = Retrieval.ndcgIdealCums(3)
    val r1 = m(1L)
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 2L)
    assert(r1.getDouble(3) == (disc(0) + disc(2)).toDouble / 1e9) // dcg
    assert(r1.getDouble(4) == cum(2).toDouble / 1e9) // idcg, min(3,3)
    assert(r1.getDouble(5) ==
      (disc(0) + disc(2)).toDouble / cum(2).toDouble) // ndcg
    assert(r1.getDouble(6) == 1.0) // rr: first hit at rank 1
    assert(r1.getDouble(7) == 2.0 / 3.0 && r1.getDouble(8) == 2.0 / 3.0)
    val r2 = m(2L)
    assert(r2.getLong(1) == 1L && r2.getLong(2) == 0L)
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(5) == 0.0 &&
      r2.getDouble(6) == 0.0 && r2.getDouble(8) == 0.0)
    // idcg for q2 still reports the 1-rel ideal, not 0
    assert(r2.getDouble(4) == cum(0).toDouble / 1e9)
    // the grid discounts are 1/log2(r+1) to within the 1e-9 snap
    assert(disc(0) == 1000000000L)
    assert(math.abs(disc(1) / 1e9 - 1.0 / (math.log(3) / math.log(2))) < 1e-9)
  }

  test("phraseSearch: counts overlapping windows, pins positions") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "x a b a b y"), // two "a b" occurrences at 2 and 4
      (2L, "a a a"), // overlapping "a a": positions 1 and 2
      (3L, "b a"), // reversed: no match
      (4L, "a b")).toDF("doc_id", "text")
    val two = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(two == Map(1L -> (2L, 2L), 4L -> (1L, 1L)), s"got $two")
    val overlap = Retrieval.phraseSearch(docs, "doc_id", "text", Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // sliding windows: "a a a" contains the bigram at 1 AND 2
    assert(overlap == Map(2L -> (2L, 1L)), s"got $overlap")
    // phrase longer than the doc: no row
    val long4 = Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq("a", "b", "a", "b", "y", "z"))
    assert(long4.count() == 0)
  }

  test("booleanSearch: AND semantics, NOT excludes, frequencies exact") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "t h t"), // t twice, h once -> kept
      (2L, "t h s"), // contains the banned term -> dropped
      (3L, "t t t"), // missing h -> dropped
      (4L, "h t")).toDF("doc_id", "text")
    val got = Retrieval.booleanSearch(docs, "doc_id", "text",
        must = Seq("t", "h"), mustNot = Seq("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (2L, 1L), 4L -> (1L, 1L)), s"got $got")
  }
}
