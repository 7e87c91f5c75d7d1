package graft

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming.FrameMessages

/** ScalaCheck-generator property: wire serde (P3/P4) round-trips
  * arbitrary frame messages — any camera/frame ids, any payload bytes
  * (full 0-255 range, including empty), ms-precision timestamps.
  * Generators are driven with fixed seeds (plain scalacheck; the
  * scalatest bridge artifact isn't available offline). */
class SerdePropertySpec extends SparkSuite {

  import spark.implicits._

  private val frameGen = for {
    camera <- Gen.chooseNum(0, 31)
    frameNum <- Gen.chooseNum(0L, 1L << 40)
    millis <- Gen.chooseNum(1500000000000L, 1900000000000L)
    payload <- Gen.listOf(Gen.chooseNum(0, 255).map(_.toByte)).map(_.toArray)
  } yield (camera, frameNum, millis, payload)

  private def sample(seed: Long, n: Int): List[(Int, Long, Long, Array[Byte])] =
    Gen.listOfN(n, frameGen)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(Nil)

  test("toWire/fromWire round-trip preserves key fields and payload bytes") {
    for (seed <- 1L to 20L) {
      val frames = sample(seed, 8)
      assert(frames.nonEmpty, s"generator returned nothing for seed $seed")
      val df = frames.map { case (c, f, ms, p) =>
        (c, f, new Timestamp(ms), p, "|u1", Seq(p.length))
      }.toDF("camera", "frame_num", "ts", "frame", "dtype", "shape")
      val back = FrameMessages.fromWire(FrameMessages.toWire(df))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2),
          Option(r.getAs[Array[Byte]](3)).getOrElse(Array.empty[Byte]).toSeq))
        .toSet
      val expect = frames.map { case (c, f, ms, p) =>
        (c, f, new Timestamp(ms), p.toSeq)
      }.toSet
      assert(back == expect, s"round-trip mismatch for seed $seed")
    }
  }

  // random word-sequence documents for the text-expression properties
  private val docGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 40)
    words <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield words.mkString(" ")

  private def sampleDocs(seed: Long, n: Int): List[String] =
    Gen.listOfN(n, docGen).apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  test("property: Bloom decontamination never misses an exact hit") {
    import org.apache.spark.sql.functions.col
    for (seed <- 1L to 5L) {
      val docs = sampleDocs(seed, 24).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      // benchmark = every third doc; tiny filter to force collisions
      val bench = df.filter(col("doc_id") % 3 === 0)
      val out = graft.operators.Sketches.bloomDecontaminate(
          df, bench, "doc_id", "text", n = 2, mBits = 64, kHashes = 2)
        .collect()
      assert(out.nonEmpty)
      for (r <- out) {
        val (nSh, nBloom, nExact) = (r.getInt(1), r.getInt(2), r.getLong(3))
        assert(nBloom >= nExact, s"seed $seed doc ${r.getLong(0)}: false negative")
        assert(nBloom <= nSh)
      }
      // benchmark members probe their own shingles: all must hit
      val benchIds = docs.filter(_._1 % 3 == 0).map(_._1).toSet
      for (r <- out if benchIds(r.getLong(0)))
        assert(r.getInt(2) == r.getInt(1),
          s"seed $seed: benchmark doc ${r.getLong(0)} missed its own shingle")
    }
  }

  test("property: chunk_words covers every word exactly per the stride") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.chunkWords
    for (seed <- 1L to 5L) {
      val docs = sampleDocs(seed, 16).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val chunks = docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          chunkWords(col("text"), 7, 4).as("cs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      for ((id, text) <- docs) {
        val words = text.split(" ", -1)
        val cs = chunks(id)
        // reconstruction: chunk i starts at i*stride; overlaps agree and
        // the concatenation of stride-prefixes + final tail = the doc
        val rebuilt = cs.zipWithIndex.flatMap { case (c, i) =>
          val cw = c.split(" ", -1)
          if (i == cs.length - 1) cw else cw.take(4)
        }
        assert(rebuilt.toSeq == words.toSeq, s"seed $seed doc $id coverage broke")
        assert(cs.init.forall(_.split(" ", -1).length == 7),
          s"seed $seed doc $id mid-chunk not full width")
      }
    }
  }
}
