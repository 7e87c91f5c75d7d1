package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{kmvMergeStats, md5U52}

/** Pins md5_u52 == the declarative conv(substring(md5(s),1,13),16,10)
  * chain it replaces — the single equality every md5-urn consumer
  * (permutation labels, bootstrap draws, DOULION coins) rests on. */
class HashExpressionsSpec extends SparkSuite {
  import spark.implicits._

  test("md5_u52 equals conv(substring(md5,1,13),16,10) on arbitrary strings") {
    val rng = new scala.util.Random(7)
    val cases = Seq("", ":", "0:0:0", "a", "√unicode·∞", "x" * 300,
      "order-12345:98:0") ++
      (1 to 500).map(_ => rng.alphanumeric.take(rng.nextInt(40)).mkString +
        (if (rng.nextBoolean()) ":" + rng.nextInt(100) else ""))
    val df = cases.toDF("s")
      .withColumn("fast", md5U52(col("s")))
      .withColumn("slow",
        conv(substring(md5(col("s")), 1, 13), 16, 10).cast("long"))
    val bad = df.filter(col("fast") =!= col("slow")).collect()
    assert(bad.isEmpty, s"md5_u52 mismatch: ${bad.take(3).mkString(", ")}")
    // every (digits, start) window used by the engine's urns
    for ((len, start) <- Seq((13, 1), (8, 1), (4, 1), (2, 1), (1, 1),
        (2, 31), (8, 25), (13, 20))) {
      val dd = cases.toDF("s")
        .withColumn("fast",
          md5U52(col("s"), len, start))
        .withColumn("slow",
          conv(substring(md5(col("s")), start, len), 16, 10).cast("long"))
      val b2 = dd.filter(col("fast") =!= col("slow")).collect()
      assert(b2.isEmpty,
        s"md5_u52($len,$start) mismatch: ${b2.take(3).mkString(", ")}")
    }
    // null propagates like the chain it replaces
    val n = Seq[Option[String]](None).toDF("s")
      .select(md5U52(col("s"))).collect()(0)
    assert(n.isNullAt(0))
    // value range: a 52-bit non-negative long
    val mx = df.agg(max(col("fast")), min(col("fast"))).collect()(0)
    assert(mx.getLong(1) >= 0L && mx.getLong(0) < (1L << 52))
  }

  test("kmv_merge_stats equals slice(array_sort(array_union))'s (size, last)") {
    val rng = new scala.util.Random(11)
    def sketch(n: Int): Seq[Long] =
      Seq.fill(n)(rng.nextLong().abs % 10000).distinct.sorted
    val cases = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L), Seq(1L)),
      (Seq.empty[Long], Seq(5L, 6L)),
      (sketch(300), sketch(300)),
      (sketch(10), sketch(256))) ++
      (1 to 50).map(_ => (sketch(rng.nextInt(300)), sketch(rng.nextInt(300))))
    for (k <- Seq(4, 256)) {
      val df = cases.toDF("ha", "hb")
        .withColumn("ms", kmvMergeStats(col("ha"), col("hb"), k))
        .withColumn("mh", slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
        .withColumn("ok",
          col("ms.n_kept") === size(col("mh")) &&
          (size(col("mh")) === 0 || col("ms.hk") === element_at(col("mh"), -1)))
      val bad = df.filter(!col("ok")).collect()
      assert(bad.isEmpty, s"k=$k: ${bad.take(2).mkString("; ")}")
    }
  }

  test("md5_u52 stays inside whole-stage codegen") {
    val df = spark.range(8).select(col("id").cast("string").as("s"))
      .select(md5U52(col("s")).as("u"))
      .filter(col("u") >= 0L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"md5_u52 must codegen:\n${p.take(800)}")
    assert(df.count() == 8)
  }
}
