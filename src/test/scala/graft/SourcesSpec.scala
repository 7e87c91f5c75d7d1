package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Source-side semantics (SURVEY.md §2.1/§2.8): micro-batch size caps
  * (O4 — the reference's poll(max_records)), paced emission (O3 — its
  * 30fps sleep loop), and non-parquet file formats. The Kafka twins of
  * these options (maxOffsetsPerTrigger, trigger pacing in KafkaIO) are
  * the same engine machinery behind a format string; the file source is
  * the broker-free way to pin the behavior. */
class SourcesSpec extends SparkSuite {

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("file stream honors maxFilesPerTrigger under a paced trigger (O3/O4)") {
    val dir = Files.createTempDirectory("graft_src_stream")
    val ck = Files.createTempDirectory("graft_src_ck")
    try {
      (0 until 3).foreach { i =>
        Files.writeString(dir.resolve(s"part$i.csv"), s"$i,100\n$i,200\n")
      }
      val stream = spark.readStream
        .schema("camera INT, frame_num BIGINT")
        .option("maxFilesPerTrigger", 1) // O4: poll(max_records) analog
        .csv(dir.toString)
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = stream.writeStream
        .trigger(Trigger.ProcessingTime("50 milliseconds")) // O3: paced emission
        .option("checkpointLocation", ck.toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count()
          batchSizes.synchronized { batchSizes += n }
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      val nonEmpty = batchSizes.filter(_ > 0)
      assert(nonEmpty.size == 3, s"one file per micro-batch, got $batchSizes")
      assert(nonEmpty.forall(_ == 2), s"each file carries 2 rows: $batchSizes")
    } finally { rmTree(dir); rmTree(ck) }
  }

  test("restart from checkpoint resumes exactly-once (no replays, no gaps)") {
    // the exactly-once wiring the Kafka path relies on, pinned broker-free:
    // stop a file-source stream mid-input, restart with the SAME
    // checkpoint, and the output must contain every input row exactly once
    val dir = Files.createTempDirectory("graft_ck_src")
    val outDir = Files.createTempDirectory("graft_ck_out")
    val ck = Files.createTempDirectory("graft_ck_ck")
    try {
      def start() = spark.readStream
        .schema("camera INT, frame_num BIGINT")
        .option("maxFilesPerTrigger", 1)
        .csv(dir.toString)
        .writeStream
        .format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ck.toString)
        .start()
      (0 until 2).foreach { i =>
        Files.writeString(dir.resolve(s"a$i.csv"), s"$i,${i * 10}\n")
      }
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      // more input arrives while the query is DOWN
      (2 until 4).foreach { i =>
        Files.writeString(dir.resolve(s"a$i.csv"), s"$i,${i * 10}\n")
      }
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val out = spark.read.schema("camera INT, frame_num BIGINT").parquet(outDir.toString)
      val got = out.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
      assert(got == (0 until 4).map(i => (i, i * 10L)),
        s"exactly one output row per input row across the restart, got $got")
    } finally { rmTree(dir); rmTree(outDir); rmTree(ck) }
  }

  test("dedupIngest resumes from a checkpoint without duplicating or losing docs") {
    // kill-mid-stream restart contract for the exact-dedup ingest: stop
    // a file-source stream partway through, restart with the SAME
    // checkpoint while new input arrived, and the final corpus must be
    // exactly one row per distinct text (the min-id survivor) with the
    // digest index claiming each hash once
    import scala.jdk.CollectionConverters._
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft_ddck_src")
    val ck = Files.createTempDirectory("graft_ddck_ck")
    val (corpusT, indexT) = ("graft_ddck_corpus", "graft_ddck_index")
    try {
      Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
      import spark.implicits._
      // 200 docs, 80 distinct texts; duplicates span chunk boundaries
      val all = (0L until 200L).map(i => (i, s"doc ${i % 80}"))
      def writeChunk(i: Int): Unit = {
        val tmp = Files.createTempDirectory(s"graft_ddck_w$i")
        all.filter { case (id, _) => id >= i * 50 && id < (i + 1) * 50 }
          .toDF("id", "text").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        val dest = dir.resolve(f"c$i%02d.parquet")
        Files.move(part, dest)
        dest.toFile.setLastModified(60000L * (i + 1))
        rmTree(tmp)
      }
      val fn = Dedup.dedupIngest("id", "text", corpusT, indexT)
      def start() = spark.readStream
        .schema("id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch(fn)
        .start()
      (0 until 2).foreach(writeChunk)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed mid-corpus; chunks 2-3 arrive while it is down
      (2 until 4).foreach(writeChunk)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val got = spark.table(corpusT).select(col("id"))
        .collect().map(_.getLong(0)).toSet
      assert(got == (0L until 80L).toSet,
        s"corpus must be the 80 min-id survivors: got ${got.size} rows")
      assert(spark.table(indexT).count() == 80L,
        "each distinct hash must be indexed exactly once across the restart")
    } finally {
      Seq(corpusT, indexT).foreach(Catalog.dropTable(spark, _))
      rmTree(dir); rmTree(ck)
    }
  }

  test("semDedupIngest resumes from a checkpoint without replaying or skipping") {
    // the kill-mid-stream restart contract for the stateful ingest: stop
    // a file-source stream partway through the corpus, restart with the
    // SAME checkpoint while new input arrived, and the final corpus must
    // equal the batch semDedup keep-set with every arrival indexed
    // exactly once
    import scala.jdk.CollectionConverters._
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDoubleVec
    val dir = Files.createTempDirectory("graft_sdck_src")
    val ck = Files.createTempDirectory("graft_sdck_ck")
    val (corpusT, indexT, stateT) =
      ("graft_sdck_corpus", "graft_sdck_index", "graft_sdck_state")
    try {
      Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val matrix = model.orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
      val assigned = e.select(col("vec_id"), col("emb"),
        graft.functions.VectorFunctions.nearestCell(col("emb"), matrix).as("cell"))
      val dropped = Similarity.semDedupDropped(assigned, "vec_id", "emb",
          threshold = 0.4, guardCellSize = 1L << 30,
          guardBits = 6, guardTables = 8, guardSeed = 4000)
        .collect().map(_.getLong(0)).toSet
      val expectKeep = e.collect().map(_.getLong(0)).toSet.diff(dropped)
      val n = e.count()
      val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
      // four id-ordered chunks as single parquet files whose mtimes force
      // arrival order (the keep-set equality assumes seniors arrive first)
      def writeChunk(i: Int): Unit = {
        val lo = i * (maxId + 1) / 4
        val hi = (i + 1) * (maxId + 1) / 4
        val tmp = Files.createTempDirectory(s"graft_sdck_w$i")
        e.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        val dest = dir.resolve(f"c$i%02d.parquet")
        Files.move(part, dest)
        dest.toFile.setLastModified(60000L * (i + 1))
        rmTree(tmp)
      }
      val fn = Similarity.semDedupIngest(model, "vec_id", "emb",
        threshold = 0.4, corpusT, indexT, stateT)
      def start() = spark.readStream
        .schema("vec_id BIGINT, emb ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
        .writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch(fn)
        .start()
      (0 until 2).foreach(writeChunk)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // killed mid-corpus; chunks 2-3 arrive while it is down
      (2 until 4).foreach(writeChunk)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val got = spark.table(corpusT).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      assert(got == expectKeep,
        s"post-restart keeps must equal batch semDedup: extra=${got.diff(expectKeep)} missing=${expectKeep.diff(got)}")
      assert(spark.table(indexT).count() == n,
        "every arrival must be indexed exactly once across the restart")
    } finally {
      Seq(corpusT, indexT, stateT).foreach(Catalog.dropTable(spark, _))
      rmTree(dir); rmTree(ck)
    }
  }

  test("partitioned corpus write: pruning reads only matching dirs, file count bounded") {
    val dir = Files.createTempDirectory("graft_part_out")
    try {
      val docs = Tables.documents(spark, sf("0.001"))
      Catalog.writePartitioned(docs, dir.toString, "lang", "doc_id", filesPerPartition = 2)
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == docs.count())
      // partition pruning: a lang filter must reach PartitionFilters,
      // not the row-level parquet filters
      val filtered = back.filter(col("lang") === "en")
      val scan = filtered.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(lang"),
        s"lang filter must prune directories:\n${scan.take(1500)}")
      val expected = docs.filter(col("lang") === "en").count()
      assert(expected > 0 && filtered.count() == expected)
      // small-files bound: <= filesPerPartition parquet files per lang
      // dir (Files.list streams must be closed — they hold a fd each)
      import scala.jdk.CollectionConverters._
      import scala.util.Using
      val perDir = Using.resource(Files.list(dir)) { top =>
        top.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("lang="))
          .map(p => Using.resource(Files.list(p)) { files =>
            files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
          })
          .toSeq
      }
      assert(perDir.nonEmpty && perDir.forall(n => n >= 1 && n <= 2),
        s"file count per partition dir must be bounded by the salt: $perDir")
    } finally rmTree(dir)
  }

  test("CSV and JSON sources round-trip the documents schema") {
    val dir = Files.createTempDirectory("graft_src_fmt")
    try {
      val docs = Tables.documents(spark, sf("0.001"))
        .select("doc_id", "text", "lang", "source", "n_chars")
      val schema = docs.schema
      docs.write.mode("overwrite").json(s"$dir/json")
      docs.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      val viaJson = spark.read.schema(schema).json(s"$dir/json")
      val viaCsv = spark.read.schema(schema).option("header", "true").csv(s"$dir/csv")
      assert(viaJson.count() == docs.count())
      assert(docs.exceptAll(viaJson).count() == 0)
      assert(viaJson.exceptAll(docs).count() == 0)
      assert(docs.exceptAll(viaCsv).count() == 0)
      assert(viaCsv.exceptAll(docs).count() == 0)
    } finally rmTree(dir)
  }

  test("routed sink contract end-to-end over file-backed topics (K1/K2)") {
    // the broker-less e2e for writeRouted/readFrames: frame messages ->
    // toWire key/value + per-row routed topic -> writeRoutedFiles (the
    // EXACT routedWire column contract the Kafka sink uses) -> per-topic
    // dirs -> readFramesFiles back, asserting routing and content equal
    // the direct batch answer
    import graft.streaming.{FrameMessages, KafkaIO}
    val srcDir = Files.createTempDirectory("graft_route_src")
    val outDir = Files.createTempDirectory("graft_route_out")
    val ck1 = Files.createTempDirectory("graft_route_ck1")
    val ck2 = Files.createTempDirectory("graft_route_ck2")
    try {
      val prefix = "predicted_object_raw_frame_topic"
      val frames = Tables.documents(spark, sf("0.001"))
        .filter(col("doc_id") < 60)
        .select(
          (col("doc_id") % 6).cast("int").as("camera"),
          (col("doc_id") / lit(6)).cast("long").as("frame_num"),
          timestamp_micros(lit(1700000000000000L) + col("doc_id") * 33000L).as("ts"),
          encode(col("text"), "UTF-8").as("frame"),
          lit("|u1").as("dtype"),
          array(col("n_chars").cast("int"), lit(1)).as("shape"))
      frames.write.mode("overwrite").parquet(srcDir.toString)
      // stream the frames through the routed wire: key/value from the
      // message serde, topic derived per row from the key's camera half
      val wire = FrameMessages
        .toWire(spark.readStream.schema(frames.schema).parquet(srcDir.toString))
        .withColumn("topic", FrameMessages.routedTopic(
          prefix, split(col("key"), "_").getItem(0)))
      val q = KafkaIO.writeRoutedFiles(wire, outDir.toString, ck1.toString).start()
      q.processAllAvailable()
      q.stop()
      // routing: exactly one topic dir per camera, nothing else
      import scala.jdk.CollectionConverters._
      import scala.util.Using
      val topicDirs = Using.resource(Files.list(outDir)) { s =>
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("topic=")).toSet
      }
      assert(topicDirs == (0 until 6).map(c => s"topic=${prefix}_$c").toSet,
        s"one emulated topic per camera: $topicDirs")
      // content: read camera 3's topic back through the readFrames twin;
      // the typed frames must equal the batch subset exactly
      val back = KafkaIO.readFramesFiles(spark, outDir.toString, s"${prefix}_3")
      val q2 = back.writeStream.format("memory").queryName("graft_route_back")
        .option("checkpointLocation", ck2.toString).start()
      q2.processAllAvailable()
      q2.stop()
      def canon(df: org.apache.spark.sql.DataFrame) = df.select(
          col("camera"), col("frame_num"), unix_micros(col("ts")).as("us"),
          md5(col("frame")).as("f"), col("dtype"), col("shape"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val expect = canon(frames.filter(col("camera") === 3))
      val got = canon(spark.table("graft_route_back"))
      assert(expect.nonEmpty && got.toSeq == expect.toSeq,
        s"round-tripped frames must equal the batch subset (${got.size} vs ${expect.size})")
      // ordering: within the topic the frame numbers replay gap-free
      val nums = spark.table("graft_route_back").select(col("frame_num"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(nums == (nums.min to nums.max).toSeq,
        s"per-topic frame sequence must be gap-free: $nums")
    } finally {
      spark.catalog.dropTempView("graft_route_back")
      rmTree(srcDir); rmTree(outDir); rmTree(ck1); rmTree(ck2)
    }
  }

  test("Kafka pacing wiring: poll cap (O4) and emission trigger (O3)") {
    import graft.streaming.KafkaIO
    import org.apache.spark.sql.streaming.Trigger
    // O4 — the source option set carries the per-micro-batch intake cap
    val opts = KafkaIO.frameSourceOptions("broker:9092", "raw_frames",
      maxOffsetsPerTrigger = 2500)
    assert(opts("maxOffsetsPerTrigger") == "2500")
    assert(opts("subscribe") == "raw_frames")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("startingOffsets") == "earliest")
    // O3 — a positive period paces the stream; zero means unpaced
    assert(KafkaIO.pacedTrigger(250L).contains(Trigger.ProcessingTime(250L)))
    assert(KafkaIO.pacedTrigger(0L).isEmpty)
    assert(KafkaIO.pacedTrigger(-1L).isEmpty)
    // the routed writer builds with pacing applied (no broker needed
    // until start()): building must not throw
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val df = mem.toDF.toDF("key", "value", "topic")
    val writer = KafkaIO.writeRouted(df, "broker:9092",
      checkpoint = java.nio.file.Files.createTempDirectory("graft_k").toString,
      triggerMs = 250L)
    assert(writer != null)
  }
}
