package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.functions.TextFunctions.{blocklistScan, nfcNormalize}

class TextAnalysisSpec extends SparkSuite {

  import spark.implicits._

  private def docs = Tables.documents(spark, sf("0.001"))

  test("PII patterns find and redact planted emails/phones/SSNs") {
    val planted = Seq(
      (1L, "contact me at jane.doe+x@example.org or 555-123-4567 today"),
      (2L, "ssn 123-45-6789 appears once"),
      (3L, "nothing sensitive here at all"))
      .toDF("id", "text")
    val scanned = planted.select(col("id"),
      TextAnalysis.piiHits(col("text")).as("hits"),
      TextAnalysis.piiRedact(col("text")).as("clean"))
    val byId = scanned.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Int]("hits") == 2)
    assert(byId(2L).getAs[Int]("hits") == 1)
    assert(byId(3L).getAs[Int]("hits") == 0)
    assert(byId(1L).getAs[String]("clean") ==
      "contact me at [REDACTED] or [REDACTED] today")
    assert(byId(2L).getAs[String]("clean") == "ssn [REDACTED] appears once")
    assert(byId(3L).getAs[String]("clean") == "nothing sensitive here at all")
    // redacted corpus has zero remaining hits (idempotence of the scrub)
    assert(scanned.filter(TextAnalysis.piiHits(col("clean")) =!= 0).count() == 0)
  }

  test("blocklist pattern respects word boundaries and regex-quotes words") {
    val rows = Seq((1L, "the customers customer custom customer.x"))
      .toDF("id", "text")
    val pat = TextAnalysis.blocklistPattern(Seq("customer", "a.b"))
    val n = rows.select(TextAnalysis.patternCount(col("text"), pat)).head.getInt(0)
    assert(n == 2, "must match 'customer' twice, not 'customers'/'custom'")
    // the quoted dot is literal: "a.b" must not match "axb"
    val n2 = Seq((1L, "axb a.b")).toDF("id", "text")
      .select(TextAnalysis.patternCount(col("text"), pat)).head.getInt(0)
    assert(n2 == 1)
  }

  test("blocklistScan: one-pass trie scrub, leftmost-longest, boundary-exact") {
    def scan(text: String, pats: Seq[String]) = {
      val df = Seq((1L, text)).toDF("id", "text")
      val sc = blocklistScan(col("text"), pats, "[X]")
      val r = df.select(sc.getField("n_hits"), sc.getField("redacted")).head
      (r.getInt(0), r.getString(1))
    }
    // phrase outranks its nested word prefix; invalid end boundary
    // falls back to the shorter valid match; mid-word never matches
    assert(scan("hash join hash joinx rehash",
        Seq("hash join", "hash", "join")) == (2, "[X] [X] joinx rehash"))
    // punctuation and string edges are boundaries; count matches regex
    assert(scan("spark, spark.x sparkly spark",
        Seq("spark")) == (3, "[X], [X].x sparkly [X]"))
    // phrase at end-of-string; overlapping phrase candidates resolve
    // non-overlapping left to right
    assert(scan("merge join", Seq("merge join", "join")) == (1, "[X]"))
    assert(scan("", Seq("x")) == (0, ""))
    // parity with the longest-first regex alternation on a busy line
    val text = "hash join hash merge join window agg window sort key.key"
    val pats = Seq("hash join", "hash", "merge join", "window agg",
      "window", "sort", "key")
    val alt = pats.sortBy(p => (-p.length, p))
      .map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\b")
    val df = Seq((1L, text)).toDF("id", "text")
    val viaRegex = df.select(
      TextAnalysis.patternCount(col("text"), alt),
      TextAnalysis.redact(col("text"), alt, "[X]")).head
    assert(scan(text, pats) == (viaRegex.getInt(0), viaRegex.getString(1)))
  }

  test("TF-IDF ranks a document's rare term above corpus-common terms") {
    val corpus = (0 until 20).map(i => (i.toLong, "common words everywhere")) :+
      (99L, "common words everywhere plus zyzzyva")
    val out = TextAnalysis.tfIdfTopTerms(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 2)
    val top99 = out.filter(col("doc_id") === 99L).collect()
    assert(top99.map(_.getAs[String]("term")).toSet == Set("plus", "zyzzyva"),
      "the doc-unique terms must out-score terms present in every doc")
    assert(top99.forall(_.getAs[Long]("df") == 1L))
    // every doc gets exactly k rows (corpus has >= k distinct terms)
    assert(out.count() == 42)
  }

  test("decontaminate counts benchmark shingle overlap per corpus doc") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta zeta"),  // shares "alpha beta gamma", "beta gamma delta"
      (2L, "totally different words here now"),
      (3L, "alpha beta gamma delta epsilon")) // exact copy: all 3 shingles hit
      .toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_hits") == 2L)
    assert(out(2L).getAs[Long]("n_hits") == 0L)
    assert(out(3L).getAs[Long]("n_hits") == 3L)
    assert(out(3L).getAs[Double]("overlap_frac") == 1.0)
    assert(out.size == 3, "0-hit docs must still appear")
  }

  test("mixEpochs materializes floor(rate) copies plus a content-chosen extra") {
    val d = docs.limit(50).cache()
    val out = TextAnalysis.mixEpochs(d, "text",
      ratesPct = Map.empty, defaultPct = 300)
    assert(out.count() == 150, "rate 300 = exactly 3 copies of every doc")
    val fractional = TextAnalysis.mixEpochs(d, "text",
      ratesPct = Map.empty, defaultPct = 250)
    val counts = fractional.groupBy("doc_id").count().collect()
    assert(counts.forall(r => r.getLong(1) == 2L || r.getLong(1) == 3L))
    // deterministic: same content -> same copy count on re-evaluation
    val again = TextAnalysis.mixEpochs(d, "text", Map.empty, 250)
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.forall(r => again(r.getLong(0)) == r.getLong(1)))
    // rate 0 drops everything
    assert(TextAnalysis.mixEpochs(d, "text", Map.empty, 0).count() == 0)
    d.unpersist()
  }

  test("repetitionStats flags degenerate repetition") {
    val rows = Seq(
      (1L, "spam spam spam spam ham"),
      (2L, "all words here are distinct")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Int]("n_tokens") == 5 && r1.getAs[Int]("n_uniq") == 2)
    assert(r1.getAs[String]("top_bigram") == "spam spam")
    assert(r1.getAs[Long]("top_bigram_cnt") == 3L)
    assert(math.abs(r1.getAs[Double]("top_bigram_frac") - 1.2) < 1e-12)
    val r2 = out(2L)
    assert(r2.getAs[Double]("dup_token_frac") == 0.0)
    assert(r2.getAs[Long]("top_bigram_cnt") == 1L)
  }

  test("packShards assigns docs to token-budget shards by running offset") {
    val rows = Seq( // ids in pack order; 3-token and 5-token docs, budget 8
      (1L, "a b c", "s"), (2L, "a b c d e", "s"), (3L, "a b c", "s"),
      (4L, "a b c d e", "s"), (5L, "a b c", "t"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.packShards(rows, "doc_id", "text", "source", budgetTokens = 8L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("shard") == 0L) // offset 0
    assert(out(2L).getAs[Long]("shard") == 0L) // offset 3
    assert(out(3L).getAs[Long]("shard") == 1L) // offset 8
    assert(out(4L).getAs[Long]("shard") == 1L) // offset 11
    assert(out(5L).getAs[Long]("shard") == 0L) // own partition, offset 0
  }

  test("stratifiedCap ranks identically to a naive per-stratum window") {
    val out = TextAnalysis.stratifiedCap(docs, "doc_id", "text", "source", cap = 20)
    // cap respected, exactly (strata are larger than 20 at sf0.001)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) == 20L))
    // the two-level rank must equal the single-window rank it replaces
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket"), col("doc_id"))
    val naive = docs
      .select(col("doc_id"), col("source"), TextAnalysis.hashBucket(col("text")).as("bucket"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 20)
      .select("doc_id", "source", "bucket", "rnk")
    assert(out.exceptAll(naive).count() == 0 && naive.exceptAll(out).count() == 0)
  }

  test("unigramLmScore ranks rare-token docs as more surprising") {
    val corpus = (0 until 20).map(i => (i.toLong, "the quick brown fox")) ++ Seq(
      (100L, "the quick brown fox"),         // all common tokens
      (101L, "zyzzyva qoph xylyl vext"))     // all corpus-unique tokens
    val out = TextAnalysis.unigramLmScore(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(101L).getAs[Double]("avg_neg_logp") > out(100L).getAs[Double]("avg_neg_logp"),
      "unique tokens must be more surprising than corpus-common ones")
    assert(out(100L).getAs[Long]("n_tokens") == 4L)
    // every doc scored, deterministic across runs
    assert(out.size == 22)
    val again = TextAnalysis.unigramLmScore(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.forall { case (k, r) => again(k) == r.getDouble(2) })
  }

  test("dupShingleCoverage: copies hit 1.0, unique docs hit 0.0") {
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact copy of 1
      (3L, "alpha beta gamma zeta eta"),      // shares "alpha beta gamma"
      (4L, "totally different words here now"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dupShingleCoverage(rows, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("dup_frac") == 1.0)
    assert(out(2L).getAs[Double]("dup_frac") == 1.0)
    assert(out(3L).getAs[Long]("n_dup") == 1L) // only "alpha beta gamma"
    assert(out(4L).getAs[Long]("n_dup") == 0L)
    assert(out(4L).getAs[Double]("dup_frac") == 0.0)
    assert(out.size == 4, "0-dup docs must still appear")
  }

  test("packShardsGlobal equals a naive global ORDER BY window") {
    val out = TextAnalysis.packShardsGlobal(docs, "doc_id", "text", "source", budgetTokens = 400L)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("source"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = docs
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard", floor(col("start_offset") / 400L))
    assert(out.exceptAll(naive).count() == 0 && naive.exceptAll(out).count() == 0)
    // offsets are globally continuous: total tokens == max(start+n_tokens)
    val total = out.agg(sum(col("n_tokens"))).head.getLong(0)
    val maxEnd = out.agg(max(col("start_offset") + col("n_tokens"))).head.getLong(0)
    assert(total == maxEnd)
  }

  test("buildShards concatenates in offset order and respects the budget bound") {
    val rows = Seq(
      (1L, "a b c", "s"), (2L, "d e f g h", "s"), (3L, "i j k", "s"),
      (4L, "l m n o p", "s"))
      .toDF("doc_id", "text", "source")
    val packed = TextAnalysis.packShards(rows, "doc_id", "text", "source", budgetTokens = 8L)
    val shards = TextAnalysis.buildShards(packed, rows, "doc_id", "text",
        keyCols = Seq("source", "shard"))
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(shards(0L).getAs[String]("shard_text") == "a b c d e f g h")
    assert(shards(1L).getAs[String]("shard_text") == "i j k l m n o p")
    assert(shards.values.forall(_.getAs[Long]("n_tokens") <= 8L + 5L),
      "shard size bounded by budget + one document")
    // repartitioning must not change shard contents (order from offsets,
    // not arrival)
    val repacked = TextAnalysis.buildShards(
      packed.repartition(7), rows.repartition(5), "doc_id", "text",
        keyCols = Seq("source", "shard"))
      .collect().map(r => r.getLong(1) -> r.getAs[String]("shard_text")).toMap
    assert(shards.keySet.forall(k => repacked(k) == shards(k).getAs[String]("shard_text")))
    // global packing: a shard spanning a source boundary must stay ONE
    // row when keyed by shard alone. Budget 7: doc2 starts at global
    // offset 7 (shard 1), doc3 (source t, base 9) at 9 (shard 1 too) —
    // shard 1 holds docs from BOTH sources
    val gRows = Seq((1L, "a b c d e f g", "s"), (2L, "h i", "s"), (3L, "j k", "t"))
      .toDF("doc_id", "text", "source")
    val gPacked = TextAnalysis.packShardsGlobal(gRows, "doc_id", "text", "source", budgetTokens = 7L)
    val gShards = TextAnalysis.buildShards(gPacked, gRows, "doc_id", "text",
        keyCols = Seq("shard"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(gShards(1L).getAs[Long]("n_docs") == 2L,
      "boundary shard must be one row containing docs from both sources")
    assert(gShards(1L).getAs[String]("shard_text") == "h i j k")
  }

  test("hash split is content-determined and roughly proportioned") {
    val out = docs.select(col("doc_id"), col("text"),
      TextAnalysis.hashSplit(col("text")).as("split"))
    // duplicates land in the same split regardless of doc_id
    val conflicting = out.groupBy(col("text"))
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1)
    assert(conflicting.count() == 0, "same content must always co-split")
    val n = out.count().toDouble
    val frac = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(frac.getOrElse("train", 0.0) > 0.6, s"train fraction: $frac")
    assert(frac.getOrElse("test", 0.0) > 0.02, s"test fraction: $frac")
    // repartitioning must not change any assignment (pure projection)
    val re = docs.repartition(7)
    val out2 = re.select(col("doc_id"), TextAnalysis.hashSplit(col("text")).as("split"))
    assert(out.select("doc_id", "split").exceptAll(out2).count() == 0)
  }

  test("chunkDocs covers every word, honors stride, and handles short/empty docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"),                                  // shorter than window
      (3L, "")                                        // empty text
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, "doc_id", "text", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 0,2,4,6: last chunk exactly reaches word 10
    assert(d1.map(_._3).toSeq == Seq("w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(d1.forall(_._4 == 4))
    assert(got.filter(_._1 == 2L).toIndexedSeq == IndexedSeq((2L, 0, "a b c", 3)))
    // empty text = one empty-token chunk (split semantics), never zero rows
    assert(got.filter(_._1 == 3L).toIndexedSeq == IndexedSeq((3L, 0, "", 1)))
    // uneven tail: 11 words -> final short chunk, all words covered
    val tail = TextAnalysis.chunkDocs(
        Seq((9L, (1 to 11).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy(col("chunk_idx")).collect().map(_.getString(2))
    assert(tail.last == "w10 w11")
    assert(tail.flatMap(_.split(" ")).toSet == (1 to 11).map(i => s"w$i").toSet)
  }

  test("mergePairStats counts every adjacent-pair occurrence, top-k deterministic") {
    val df = Seq(
      (1L, "a b a b c"), // pairs: "a b", "b a", "a b", "b c"
      (2L, "a b"),       // "a b"
      (3L, "x")          // 1 word -> no pairs
    ).toDF("doc_id", "text")
    val out = TextAnalysis.mergePairStats(df, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // counts: "a b" x3, "b a" x1, "b c" x1 — non-distinct within doc 1 is
    // the point (a distinct form would report "a b" twice, not thrice);
    // the k=2 cut tie-breaks lexicographically ("b a" < "b c")
    assert(out.toSeq == Seq(("a b", 3L, 1), ("b a", 1L, 2)))
  }

  test("tokensToIds ranks vocabulary by frequency and encodes OOV as 0") {
    val df = Seq(
      (1L, "x y x z x y"),
      (2L, "q x")
    ).toDF("doc_id", "text")
    // counts: x=4, y=2, q=1, z=1; the count-1 tie breaks alphabetically
    // so V=3 keeps {x, y, q} -> ids x=1, y=2, q=3 and z is OOV
    val out = TextAnalysis.tokensToIds(df, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Int](3))).toMap
    assert(out(1L) == ((6L, 1L, Seq(1, 2, 1, 0, 1, 2))))
    assert(out(2L) == ((2L, 0L, Seq(3, 1))))
  }

  test("packTrainingRows windows each shard's id stream losslessly") {
    val docs = Tables.documents(spark, sf("0.001"))
    val seqLen = 64
    val rows = TextAnalysis.packTrainingRows(docs, "doc_id", "text",
        by = "source", vocabSize = 20, budgetTokens = 500L, seqLen = seqLen)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Int](3)))
    // every row is exactly seqLen ids except possibly the last of a shard
    val byShard = rows.groupBy(_._1)
    for ((shard, rs) <- byShard) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.toSeq, s"shard $shard row gaps")
      assert(sorted.init.forall(_._3 == seqLen), s"shard $shard short mid-row")
      assert(sorted.forall(r => r._4.length == r._3))
    }
    // lossless: total ids across rows == total tokens across the corpus
    val totalIds = rows.map(_._3.toLong).sum
    val totalTokens = docs.select(
        sum(size(graft.functions.TextFunctions.tokens(col("text")))))
      .head.getLong(0)
    assert(totalIds == totalTokens, s"ids $totalIds vs tokens $totalTokens")
  }

  test("oovStats measures per-doc OOV against the deterministic top-V vocab") {
    val df = Seq(
      (1L, "x x x y"),
      (2L, "x z")
    ).toDF("doc_id", "text")
    // term counts: x=4, y=1, z=1; V=2 keeps {x, y} (count desc, term asc)
    val out = TextAnalysis.oovStats(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((4L, 0L, 0.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
  }

  test("qualityClassifier learns a linearly separable rule exactly") {
    val df = (1 to 200).map(i => (i.toLong, if (i % 2 == 0) 4.0 else -4.0))
      .toDF("id", "f")
    val out = TextAnalysis.qualityClassifier(df, "id",
      features = Seq("x1" -> col("f")),
      label = (col("f") > 0).cast("double"), iters = 12, lr = 0.5)
    assert(out.filter(col("pred") =!= col("y")).count() == 0,
      "a +/-4 separable fixture must classify perfectly")
    val hi = out.filter(col("y") === 1).agg(min(col("score"))).head.getDouble(0)
    val lo = out.filter(col("y") === 0).agg(max(col("score"))).head.getDouble(0)
    assert(hi > 0.5 && lo < 0.5, s"scores must separate: min-pos $hi, max-neg $lo")
  }

  test("qualityClassifier beats chance on the corpus length label") {
    import graft.functions.TextFunctions.tokens
    val nTok = size(tokens(col("text")))
    val out = TextAnalysis.qualityClassifier(docs, "doc_id",
      features = Seq(
        "x1" -> (nTok / lit(64.0)),
        "x2" -> (size(array_distinct(tokens(col("text")))) / nTok),
        "x3" -> (length(col("text")) / nTok)),
      label = (length(col("text")) > 300).cast("double"), iters = 4, lr = 0.125)
    val n = out.count().toDouble
    val acc = out.filter(col("pred") === col("y")).count() / n
    assert(acc > 0.7, s"learned filter should beat chance, got $acc")
  }

  test("bigramLmScore favors corpus-frequent transitions and drops sub-2-token docs") {
    import spark.implicits._
    // "a b" dominates; doc 4 reuses it, doc 5 is a novel transition
    val df = Seq(
      (1L, "a b a b a b"), (2L, "a b c"), (3L, "z"),
      (4L, "a b"), (5L, "q r")).toDF("id", "txt")
    val out = TextAnalysis.bigramLmScore(df, "id", "txt")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L), "single-token doc has no bigrams")
    assert(out(4L)._1 == 1L && out(5L)._1 == 1L)
    assert(out(4L)._2 < out(5L)._2,
      s"frequent transition must score lower: ${out(4L)._2} vs ${out(5L)._2}")
    // doc 1's pairs are the most predictable overall
    assert(out(1L)._2 < out(2L)._2)
  }

  test("bpeMerges learns iteratively and rewrites greedily") {
    // round 1: pairs over the raw corpus — "a b" occurs 3× (docs 1, 2),
    // beating "b a" (2×); round 2 counts over the REWRITTEN corpus, so
    // "a@@b a@@b" (doc 2) and "a@@b c" (docs 1, 3... doc 3 has no a b)
    val df = Seq(
      (1L, "a b c a b"),
      (2L, "a b a b"),
      (3L, "c c d")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(df, "doc_id", "text", merges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges(0) == ((1, "a", "b", 4L)),
      s"round 1 should merge the most frequent raw pair: ${merges.toSeq}")
    // after round 1: "a@@b c a@@b" / "a@@b a@@b" / "c c d" — the top
    // pair is now a@@b-adjacency, proving counts run post-rewrite
    assert(merges(1)._2.contains("@@") || merges(1)._3.contains("@@"),
      s"round 2 must count over the rewritten corpus: ${merges.toSeq}")
  }

  test("bpeEncode applies greedy leftmost non-overlapping merges") {
    // "a a a": merge (a,a) must produce "a@@a a" (greedy leftmost),
    // NOT "a a@@a" or "a@@a a@@a"; back-to-back "a b a b" must merge
    // BOTH occurrences even though they share a separator
    val df = Seq(
      (1L, "a a a"),
      (2L, "a a a a"),
      (3L, "b")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(df, "doc_id", "text", merges = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merge round 1 learns (a, a) (cnt 5); doc 1 → "a@@a a" (2 tokens),
    // doc 2 → "a@@a a@@a" (2 tokens), doc 3 untouched (1 token)
    assert(out(1L) == 2L, s"greedy leftmost on 'a a a' should leave 2 tokens: $out")
    assert(out(2L) == 2L, s"back-to-back merges on 'a a a a' should both fire: $out")
    assert(out(3L) == 1L)
    // byte-level proof: md5 of the rewritten text matches the expected strings
    val md = TextAnalysis.bpeEncode(df, "doc_id", "text", merges = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val exp = Seq(("a@@a a", 1L), ("a@@a a@@a", 2L), ("b", 3L))
      .toDF("t", "doc").select(col("doc"), org.apache.spark.sql.functions.md5(col("t")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(md == exp, s"encoded bytes must match the greedy rewrite: $md vs $exp")
  }

  test("knBigramScore matches the hand-computed Kneser-Ney chain") {
    import spark.implicits._
    // "a b a b a c": c2 = {(a,b):2,(b,a):2,(a,c):1}; c1(a)=3,n1f(a)=2;
    // c1(b)=2,n1f(b)=1; n1b(a)=n1b(b)=n1b(c)=1; N1+(..)=3; D=0.75
    // p(b|a)=(1.25+0.75*2/3)/3, p(a|b)=(1.25+0.25)/2, p(c|a)=(0.25+0.5)/3
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val out = TextAnalysis.knBigramScore(df, "doc_id", "text")
      .head()
    assert(out.getLong(1) == 5)
    val expected = (2 * -math.log((1.25 + 0.5) / 3.0) +
      2 * -math.log(1.5 / 2.0) + -math.log(0.75 / 3.0)) / 5.0
    assert(out.getDouble(2) == math.rint(expected * 1e6) / 1e6 ||
      math.abs(out.getDouble(2) - expected) < 1e-6,
      s"got ${out.getDouble(2)}, expected ~$expected")
  }

  test("dsirWeights scores target-like docs above off-domain docs") {
    import spark.implicits._
    // target domain speaks {alpha beta gamma}; off-domain speaks
    // {zeta eta theta}; two raw docs to score, one from each dialect
    val df = (Seq.tabulate(20)(i => (i.toLong, "alpha beta gamma alpha beta", "t")) ++
      Seq.tabulate(20)(i => (100L + i, "zeta eta theta zeta eta", "r")) ++
      Seq((900L, "alpha beta gamma", "r"), (901L, "zeta eta theta", "r")))
      .toDF("doc_id", "text", "kind")
    val w = TextAnalysis.dsirWeights(df, "doc_id", "text",
        targetPred = col("kind") === "t", m = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(900L) > 0, s"target-dialect doc must score positive: ${w(900L)}")
    assert(w(901L) < 0, s"off-domain doc must score negative: ${w(901L)}")
    assert(w(900L) > w(901L) + 1.0, "separation must be decisive")
  }

  test("nfc_normalize composes decomposed sequences; ASCII is identity") {
    import spark.implicits._
    val cases = Seq(
      "é" -> "é", // e + COMBINING ACUTE -> é
      "À" -> "À", // A + COMBINING GRAVE -> À
      "é" -> "é", // already composed: unchanged
      "plain ascii" -> "plain ascii",
      "" -> "")
    val got = cases.map(_._1).toDF("s")
      .select(nfcNormalize(col("s"))).as[String].collect()
    cases.zip(got).foreach { case ((in, want), out) =>
      assert(out == want,
        s"nfc(${in.map(c => f"\\u${c.toInt}%04x").mkString}) mismatch")
    }
    // interpreted kernel agrees + idempotence
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { case (in, want) =>
      val once = graft.plans.NfcUtil.nfc(UTF8String.fromString(in))
      assert(once.toString == want)
      assert(graft.plans.NfcUtil.nfc(once).toString == want, "idempotent")
    }
    // null propagates
    val n = Seq(Option.empty[String]).toDF("s")
      .select(nfcNormalize(col("s"))).collect().head
    assert(n.isNullAt(0))
  }

  test("naiveBayes: separable fixture classifies perfectly, ties break to first label") {
    import spark.implicits._
    val train = Seq(
      (1L, "apple apple banana", "fruit"),
      (2L, "apple banana banana", "fruit"),
      (3L, "dog cat dog", "pet"),
      (4L, "cat cat dog", "pet")).toDF("doc_id", "text", "lang")
    val test0 = Seq(
      (10L, "apple banana apple", "fruit"),
      (11L, "dog dog cat", "pet"),
      (12L, "kiwi wombat", "fruit")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.naiveBayes(train, test0, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(10L).getAs[String]("label_pred") == "fruit")
    assert(out(10L).getAs[Boolean]("correct"))
    assert(out(11L).getAs[String]("label_pred") == "pet")
    // doc 12 is all-unseen tokens: every label scores the smoothing
    // floor; vocab V=4 and n_lab=6 tokens for BOTH labels with equal
    // priors, so scores tie exactly -> lexicographically first label
    assert(out(12L).getAs[String]("label_pred") == "fruit")
    // hand-check doc 10: P(apple|fruit)=(3+1)/(6+4), P(banana|fruit)=(3+1)/(6+4)
    val sFruit = 2 * math.log(4.0 / 10.0) + math.log(4.0 / 10.0) + math.log(0.5)
    assert(math.abs(out(10L).getAs[Double]("score") - sFruit) < 1e-5)
  }

  test("jsDivergenceByGroup: hand computation, symmetry, and the zero case") {
    def log2(v: Double) = math.log(v) / math.log(2.0)
    // A = {x x y}, B = {y z}: with two groups "rest of A" IS B, so
    // both rows must carry the SAME (symmetric) divergence
    val df = Seq(("A", "x x y"), ("B", "y z")).toDF("g", "text")
    val out = TextAnalysis.jsDivergenceByGroup(df, "text", col("g"))
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    val expected = 1.0 / 3 + (1.0 / 6) * log2(0.8) +
      0.25 * log2(1.2) + 0.25
    assert(math.abs(out("A").getAs[Double]("jsd_bits") - expected) < 1e-6)
    assert(out("A").getAs[Double]("jsd_bits") ==
      out("B").getAs[Double]("jsd_bits"))
    assert(out("A").getAs[Long]("n_terms") == 2)
    assert(out("A").getAs[Long]("n_tokens") == 3)
    // identical mixes -> exactly 0; disjoint vocabularies -> exactly 1
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("g", "text")
    TextAnalysis.jsDivergenceByGroup(same, "text", col("g")).collect()
      .foreach(r => assert(r.getAs[Double]("jsd_bits") == 0.0))
    val disj = Seq(("A", "x x"), ("B", "y z")).toDF("g", "text")
    TextAnalysis.jsDivergenceByGroup(disj, "text", col("g")).collect()
      .foreach(r => assert(r.getAs[Double]("jsd_bits") == 1.0))
  }

  test("vocabChurn: adjacent-period top-k Jaccard on a hand corpus") {
    // period tops (k=2): p0 {a,b}, p1 {b,c}, p2 {c,d}
    // adjacent overlaps of 1 -> jaccard = 1/3
    val df = Seq(
      (0L, "a a a b b x"), (1L, "b b b c c y"), (2L, "c c c d d z"))
      .toDF("p", "text")
    val out = TextAnalysis.vocabChurn(df, "text", col("p"), topK = 2)
      .collect().map(r => (r.getAs[Long]("period_a"),
        r.getAs[Long]("period_b")) -> r).toMap
    assert(out.keySet == Set((0L, 1L), (1L, 2L)))
    out.values.foreach { r =>
      assert(r.getAs[Long]("k") == 2)
      assert(r.getAs[Long]("n_common") == 1)
      assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3) < 1e-9)
    }
  }

  test("quantileNormalize maps both groups' quantiles onto the pooled scale") {
    import org.apache.spark.sql.functions.{col => f}
    // A = 1..5, B = 101..105: after normalization the two groups'
    // k-th order statistics must LAND ON THE SAME pooled values
    val df = ((1L to 5L).map(v => (v, "A", v)) ++
      (1L to 5L).map(v => (v + 100L, "B", v + 100L)))
      .toDF("doc_id", "src", "v")
    val out = TextAnalysis.quantileNormalize(df, "doc_id",
      f("src"), f("v"), gridSize = 256)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("norm_value")).toMap
    // per-group rank i (1..5) -> same normalized value for A and B
    (0 until 5).foreach { i =>
      assert(out(1L + i) == out(101L + i),
        s"rank ${i + 1}: A=${out(1L + i)} B=${out(101L + i)}")
    }
    // extremes pin to the pooled extremes
    assert(out(1L) == 1L)
    assert(out(105L) == 105L)
    assert(out(5L) == 105L)  // A's max maps to the pooled max
  }

  test("zipfFit recovers slope -1 on an exact power-law corpus") {
    // counts 840/rank at ranks 1..4 (840, 420, 280, 210):
    // ln c = ln 840 - ln rk exactly, so the fit is a perfect line
    def rep(t: String, n: Int) = Seq.fill(n)(t).mkString(" ")
    val text = Seq(rep("t1", 840), rep("t2", 420), rep("t3", 280),
      rep("t4", 210)).mkString(" ")
    val out = TextAnalysis.zipfFit(Seq(Tuple1(text)).toDF("text"),
      "text", topV = 4).collect().head
    assert(out.getAs[Long]("n_terms") == 4)
    assert(math.abs(out.getAs[Double]("slope") + 1.0) < 1e-6)
    assert(out.getAs[Double]("r2") >= 0.999999)
    assert(math.abs(out.getAs[Double]("intercept") - math.log(840.0)) < 1e-6)
  }
}
