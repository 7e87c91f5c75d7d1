package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.TextFunctions._

class DedupSpec extends SparkSuite {

  private def docs = Tables.documents(spark, sf("0.001"))

  test("minhash LSH candidates include every high-Jaccard pair") {
    val high = Dedup.jaccardPairs(docs, "doc_id", "text", "source", n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(high.nonEmpty, "testdata should contain planted near-duplicates")
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", shingleN = 3,
        numPerm = 32, bands = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = high -- cand
    assert(missed.isEmpty, s"minhash LSH missed high-sim pairs: $missed")
  }

  test("prefixJaccardPairs is lossless at a high threshold (short prefixes)") {
    import spark.implicits._
    // at t = 0.5 the prefix keeps only ~half of each doc's shingles, so
    // the filter genuinely prunes — yet candidate generation must still
    // surface EVERY qualifying pair (pigeonhole), including pairs whose
    // shared shingles are the corpus-common ones (worst case for a
    // rare-first order)
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, base),                                      // original
      (2L, base),                                      // exact copy (j=1)
      (3L, (1 to 40).map(i => if (i % 4 == 0) s"x$i" else s"w$i").mkString(" ")),
      (4L, (1 to 20).map(i => s"w$i").mkString(" ")),  // prefix half
      (5L, (1 to 40).map(i => s"z$i").mkString(" ")))  // disjoint
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(rows, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // brute-force oracle over the same shingle sets
    def shingles(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = rows.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = shingles(texts(a)); sb = shingles(texts(b))
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(expect.nonEmpty && got == expect,
      s"prefix filter must find exactly the brute-force pairs: $got vs $expect")
  }

  test("ShingleHashes matches the declarative shingle form (distinct count)") {
    val cmp = docs.select(
      size(shingleHashes(col("text"), 3)).as("native"),
      size(shingles(col("text"), 3)).as("declarative"))
    assert(cmp.filter(col("native") =!= col("declarative")).count() == 0)
  }

  test("exact dedup keeps one survivor per distinct text") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    val distinctTexts = docs.select("text").distinct().count()
    assert(kept.count() == distinctTexts)
  }

  test("simhash pairs have small hamming distance and high token overlap") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", "source", maxHamming = 8)
      .collect()
    // every reported pair must be within the bound; sanity on the bound itself
    assert(pairs.forall(_.getAs[Int]("hamming") <= 8))
  }

  test("banded simhash output is identical to the all-pairs oracle (q46 parity)") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("hamming"))).toSet
    // wide bound so the parity set is non-trivial even at sf0.001
    for (maxHamming <- Seq(8, 20)) {
      val banded = key(Dedup.simhashPairs(docs, "doc_id", "text", "source", maxHamming))
      val allPairs = key(Dedup.simhashPairsExhaustive(docs, "doc_id", "text", "source", maxHamming))
      assert(banded == allPairs,
        s"maxHamming=$maxHamming: banded ${banded.size} vs all-pairs ${allPairs.size}")
    }
    assert(key(Dedup.simhashPairsExhaustive(docs, "doc_id", "text", "source", 20)).nonEmpty,
      "parity must be checked on a non-empty pair set")
  }

  test("banded simhash plans a hash/merge equi-join, not a block-theta join") {
    val p = Dedup.simhashPairs(docs, "doc_id", "text", "source", maxHamming = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("fingerprint is the documented rolling hash") {
    import spark.implicits._
    val got = Seq(("ab", 0L)).toDF("text", "ignore")
      .select(fingerprint(col("text")).as("fp")).head.getLong(0)
    // ((0*31 + 'a') % M)*31 + 'b') % M with M = 1e9+7, 'a'=97, 'b'=98
    val expect = (97L * 31 + 98) % 1000000007L
    assert(got == expect)
  }

  test("connectedComponents labels a chain, a triangle, and leaves islands apart") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4: exercises multiple propagation passes),
    // triangle 10-11-12, separate edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("x", "y")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    val got = Dedup.connectedComponents(edges, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // a forced route takes the distributed label-propagation loop (the
    // default would take the driver union-find fast path here)
    val distributed = forcedDistributed(Dedup.connectedComponents(edges, "x", "y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expected, "distributed loop must match union-find")
  }

  test("incrementalNew collapses batch duplicates and drops already-seen content") {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    val incoming = Seq(
      (10L, "brand new text"), (11L, "brand new text"), // batch-internal dup
      (12L, "previously ingested"),                     // seen before
      (13L, "also new")).toDF("doc_id", "text")
    val seen = Seq("previously ingested").toDF("t").select(md5($"t").as("h"))
    val got = Dedup.incrementalNew(incoming, "doc_id", "text", seen, "h")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 2L), (13L, 1L)),
      "min-id survivor per hash, seen content dropped, batch dups counted")
  }

  test("dupClusters assigns singletons to themselves and flags canonicals") {
    import spark.implicits._
    val corpus = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val got = Dedup.dupClusters(corpus, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("sourceOverlap builds the shared-shingle matrix with set-exact Jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "a b c d"),  // 3-shingles: {a b c, b c d}
      (2L, "s2", "a b c e"),  // {a b c, b c e}
      (3L, "s2", "a b c d"),  // adds {b c d} to s2 — cross-doc within source
      (4L, "s3", "x y z w")   // disjoint {x y z, y z w}
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs, "source", "text", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // s1 = {abc, bcd}, s2 = {abc, bce, bcd}: shared 2, union 3; s3 never pairs
    assert(got.toSeq == Seq(("s1", "s2", 2L, 2L, 3L, 0.666667)))
  }

  test("substringSpans merges overlapping and adjacent windows into maximal spans") {
    import spark.implicits._
    // doc 1 and 2 share the 6-token run "p q r s t u" (two 5-windows at
    // pos 0,1 in doc 1 → one merged span [0,6)); doc 3 repeats a run
    // INTERNALLY at pos 0 and pos 7 with a 2-token gap (7 > 0+5) →
    // two separate spans; doc 4 shares nothing
    val docs = Seq(
      (1L, "p q r s t u x1 y1"),
      (2L, "z1 p q r s t u z2"),
      (3L, "m n o v w g1 g2 m n o v w"),
      (4L, "a b c d e f g h")).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(spans == Seq(
      (1L, 0L, 6L, 2L),   // windows at 0,1 merged: [0, 1+5)
      (2L, 1L, 7L, 2L),   // same run shifted by the z1 prefix
      (3L, 0L, 5L, 1L),   // internal repeat, first copy
      (3L, 7L, 12L, 1L)), // second copy; gap 7 > 0+5 keeps spans apart
      s"got $spans")
    // keepFirst exempts the canonical minimum-(doc,pos) occurrence only
    val kept = Dedup.substringSpans(docs, "doc_id", "text", n = 5, keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // BOTH doc-1 windows are the canonical first occurrence of their own
    // hash, so doc 1 drops out entirely; doc 2's copies and doc 3's
    // second internal copy stay marked
    assert(kept == Seq((2L, 1L, 7L), (3L, 7L, 12L)), s"got $kept")
  }

  test("substringDedupClean removes exactly the span tokens and hashes the remainder") {
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t u x1 y1"),
      (2L, "z1 p q r s t u z2"),
      (4L, "a b c d e f g h")).toDF("doc_id", "text")
    val got = Dedup.substringDedupClean(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq(
      (1L, 2L, 6L, m("x1 y1")),
      (2L, 2L, 6L, m("z1 z2")),
      (4L, 8L, 0L, m("a b c d e f g h"))), s"got $got")
  }
}
