package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSuite {

  test("featurize produces stable schema, deterministic features and chunks") {
    val docs = Tables.documents(spark, sf("0.001"))
    val out = Multimodal.featurize(docs, "doc_id", "text")
    assert(out.columns.toSeq == Seq("doc_id", "meta", "features", "chunk_hashes"))
    val row = out.orderBy("doc_id").head
    assert(row.getSeq[Double](row.fieldIndex("features")).length == 8)
    assert(row.getSeq[String](row.fieldIndex("chunk_hashes")).nonEmpty)
    // determinism: same input -> identical output
    val again = Multimodal.featurize(docs, "doc_id", "text").orderBy("doc_id").head
    assert(again.getSeq[Double](again.fieldIndex("features")) ==
      row.getSeq[Double](row.fieldIndex("features")))
    // payload bytes survive ingestion untouched
    val ing = Multimodal.ingestText(docs, "doc_id", "text")
    val back = ing.select(col("doc_id"), decode(col("payload"), "UTF-8").as("t"))
      .join(docs, "doc_id")
      .filter(col("t") =!= col("text"))
    assert(back.count() == 0)
  }

  test("binaryFile source ingests a directory into the multimodal schema (S6)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_binfiles")
    try {
      val payloads = Map(
        "alice.0.png" -> Array[Byte](1, 2, 3, 4, 5),
        "bob_smith.jpg" -> "bob-bytes".getBytes("UTF-8"),
        "carol.dat" -> Array.tabulate(300)(_.toByte))
      payloads.foreach { case (name, bytes) =>
        Files.write(dir.resolve(name), bytes)
      }
      val ing = Multimodal.ingestBinaryFiles(spark, dir.toString)
      val rows = ing.collect().map(r => r.getAs[String]("file_name") -> r).toMap
      assert(rows.keySet == payloads.keySet)
      // payload bytes survive untouched; meta carries the byte length
      payloads.foreach { case (name, bytes) =>
        assert(rows(name).getAs[Array[Byte]]("payload").toSeq == bytes.toSeq, name)
        assert(rows(name).getAs[org.apache.spark.sql.Row]("meta")
          .getAs[Long]("n_bytes") == bytes.length, name)
      }
      // P12 filename→label parse: up to first '.' or '_', title-cased
      assert(rows("alice.0.png").getAs[String]("label") == "Alice")
      assert(rows("bob_smith.jpg").getAs[String]("label") == "Bob")
      // q50-style projections run over file-backed payloads unchanged
      val q50ish = ing.select(col("file_name"),
        md5(col("payload")).as("payload_md5"),
        hex(col("payload").substr(lit(1), lit(8))).as("head_hex"))
      assert(q50ish.count() == 3)
      // and the stub decode stage accepts file-backed payloads
      val feats = ing.withColumn("features", Multimodal.stubDecodeFeatures(col("payload")))
      assert(feats.filter(size(col("features")) === 8).count() == 3)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      dir.toFile.delete()
    }
  }

  test("documents testdata is pure ASCII (q50/q51 oracle byte-vs-char parity)") {
    // the q50/q51 DuckDB oracles slice text by CHARACTERS while Spark
    // slices the payload by BYTES; they agree only while the corpus is
    // single-byte. If this fails, the oracles must change, not the code.
    val docs = Tables.documents(spark, sf("0.001"))
    assert(docs.filter(octet_length(col("text")) =!= length(col("text"))).count() == 0,
      "documents.text contains multi-byte characters; q50/q51 oracles assume ASCII")
  }

  test("native functions are callable from plain SQL") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
      "vec_sq_l2(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS l, " +
      "size(shingle_hashes('a b c d', 3)) AS n").head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
    assert(r.getInt(2) == 2)
    // every SQL name resolves, and where a typed builder exists it
    // returns what the SQL form returns, row for row
    import org.apache.spark.sql.Column
    import graft.functions.TextFunctions._
    import graft.functions.VectorFunctions._
    import graft.streaming.SauronPipeline.{stubDetect, stubDetectPortable}
    import spark.implicits._
    Seq("a b a b c", "x y z x y z").toDF("text").createOrReplaceTempView("graft_fn_in")
    val (v, w) = ("array(1.0d, -2.0d, 0.5d)", "array(0.5d, 1.0d, -1.0d)")
    val cells = "array(array(0.0d, 0.0d, 0.0d), array(1.0d, -2.0d, 0.0d))"
    val bits = Seq(true, false, true, true, false)
    val frame = expr("encode(text, 'UTF-8')")
    val text = col("text")
    val cases: Seq[(String, String, Option[Column])] = Seq(
      ("vec_dot", s"vec_dot($v, $w)", Some(fastDot(expr(v), expr(w)))),
      ("vec_sq_l2", s"vec_sq_l2($v, $w)", Some(fastSquaredL2(expr(v), expr(w)))),
      ("vec_dot_i8", "vec_dot_i8(array(1Y, -2Y, 3Y), array(4Y, 5Y, -6Y))",
        Some(dotI8(expr("array(1Y, -2Y, 3Y)"), expr("array(4Y, 5Y, -6Y)")))),
      ("lsh_buckets", s"lsh_buckets($v, 4, 3, 7)", Some(lshBuckets(expr(v), 4, 3, 7L))),
      ("rp_project", s"rp_project($v, 2, 5)", Some(rpProject(expr(v), 2, 5L))),
      ("nearest_cell", s"nearest_cell($v, $cells)",
        Some(nearestCell(expr(v), Array(Array(0.0, 0.0, 0.0), Array(1.0, -2.0, 0.0))))),
      ("nearest_cells", s"nearest_cells($v, $cells, 2)",
        Some(nearestCells(expr(v), Array(Array(0.0, 0.0, 0.0), Array(1.0, -2.0, 0.0)), 2))),
      ("adc_score", "adc_score(array(0, 1), array(0.5d, 1.5d, 2.5d, 3.5d), 2)",
        Some(adcScore(expr("array(0, 1)"), expr("array(0.5d, 1.5d, 2.5d, 3.5d)"), 2))),
      ("motif_corr", "motif_corr(array(1.0d, 3.0d, 2.0d), array(-1.0d, 1.0d, 0.0d))",
        Some(motifCorr(expr("array(1.0d, 3.0d, 2.0d)"), Array(-1.0, 1.0, 0.0)))),
      ("md5_u52", "md5_u52(text)", Some(md5U52(text))),
      ("md5_u52", "md5_u52(text, 8)", Some(md5U52(text, 8))),
      ("md5_u52", "md5_u52(text, 8, 25)", Some(md5U52(text, 8, 25))),
      ("shingle_hashes", "shingle_hashes(text, 2)", Some(shingleHashes(text, 2))),
      ("shingle_strings", "shingle_strings(text, 2)", Some(shingleStrings(text, 2))),
      ("shingle_strings", "shingle_strings(text, 2, false)",
        Some(shingleStrings(text, 2, distinct = false))),
      ("window_md5s", "window_md5s(text, 2)", Some(windowMd5s(text, 2))),
      ("chunk_words", "chunk_words(text, 3, 2)", Some(chunkWords(text, 3, 2))),
      ("simhash_md5", "simhash_md5(text)", Some(simhashMd5(text))),
      ("minhash_md5", "minhash_md5(text, 2, 4)", Some(minhashMd5(text, 2, 4))),
      ("bloom_positions", "bloom_positions(text, 2, 64, 3)", Some(bloomPositions(text, 2, 64, 3))),
      ("bloom_hits", s"bloom_hits(text, 2, 3, array(${bits.mkString(", ")}))",
        Some(bloomHits(text, 2, 3, bits))),
      ("cms_sketch", "cms_sketch(text, 8, 2)", Some(cmsSketch(text, 8, 2))),
      ("blocklist_scan", "blocklist_scan(text, array('a b', 'z'), '[R]')",
        Some(blocklistScan(text, Seq("a b", "z"), "[R]"))),
      ("deletion_variants", "deletion_variants(text)", Some(deletionVariants(text))),
      ("kmv_merge_stats", "kmv_merge_stats(array(1L, 3L, 5L), array(2L, 3L, 9L), 3)",
        Some(kmvMergeStats(expr("array(1L, 3L, 5L)"), expr("array(2L, 3L, 9L)"), 3))),
      ("jaro_winkler", "jaro_winkler(text, 'a b x')", Some(jaroWinkler(text, lit("a b x")))),
      ("jaro_sim", "jaro_sim(text, 'a b x')", None),
      ("nfc_normalize", "nfc_normalize(text)", Some(nfcNormalize(text))),
      ("stub_faces_md5", "stub_faces_md5(encode(text, 'UTF-8'), 4)",
        Some(stubDetectPortable(frame, 4))),
      ("stub_faces_xx", "stub_faces_xx(encode(text, 'UTF-8'), 4)", Some(stubDetect(frame, 4))))
    assert(cases.map(_._1).toSet == GraftExtensions.functions.map(_._1).toSet)
    for ((name, call, builder) <- cases) {
      val viaSql = spark.sql(s"SELECT $call AS v FROM graft_fn_in").collect().toSeq
      assert(viaSql.nonEmpty && viaSql.forall(!_.isNullAt(0)), s"$call")
      builder.foreach { b =>
        assert(spark.table("graft_fn_in").select(b.as("v")).collect().toSeq == viaSql,
          s"$name: builder differs from $call")
      }
    }
    // install registers only what is missing: a second call is a no-op
    // (same listing, and every name keeps the entry it had)
    val registry = spark.sessionState.functionRegistry
    def listing = registry.listFunction().map(_.unquotedString).sorted
    def entries = GraftExtensions.functions.map { case (name, _, _) =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get }
    val (installed, installedEntries) = (listing, entries)
    GraftExtensions.install(spark)
    assert(listing == installed)
    assert(entries.zip(installedEntries).forall { case (a, b) => a eq b },
      "a second install replaced a registered function")
    // extensions class wires the same expressions (applied at session
    // construction in a fresh JVM; here we just exercise the injection)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("native portable stub model is bit-exact vs the declarative Column form") {
    import org.apache.spark.sql.functions._
    import graft.streaming.SauronPipeline
    val frames = Tables.documents(spark, sf("0.001")).limit(100)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("frame"))
    val native = SauronPipeline.detectStage(frames,
      SauronPipeline.stubDetectPortable(_, 16))
    val declarative = SauronPipeline.detectStage(frames,
      SauronPipeline.stubDetectPortableColumns(_, 16))
    // catalogString ignores nullability flags (the two constructions
    // disagree only there); values compare through a canonical JSON form
    assert(native.schema.catalogString == declarative.schema.catalogString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), to_json(struct(col("faces"))).as("j"))
    assert(canon(native).exceptAll(canon(declarative)).count() == 0)
    assert(canon(declarative).exceptAll(canon(native)).count() == 0)
  }

  test("phashNearDup: exact payload dups at hamming 0, one-chunk edits nearby") {
    import spark.implicits._
    val base = Array.tabulate(256)(i => ('a' + i % 26).toChar).mkString
    // doc 3 = doc 1 with ONE 4-byte chunk (chunk 5 at cw=4) rewritten
    val edited = base.substring(0, 20) + "ZZZZ" + base.substring(24)
    val far = Array.fill(256)('q').mkString
    val docs = Seq((1L, base), (2L, base), (3L, edited), (4L, far))
      .toDF("doc_id", "text")
    val media = Multimodal.ingestText(docs, "doc_id", "text")
    val out = Multimodal.phashNearDup(media, "doc_id", "payload", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((1L, 2L)) == 0, "identical payloads must pair at hamming 0")
    // one edited chunk flips at most one signature bit: three bands are
    // untouched, so banding MUST surface the pair
    assert(out.contains((1L, 3L)) && out((1L, 3L)) <= 1,
      s"one-chunk edit must stay a candidate with tiny hamming: $out")
    assert(!out.keys.exists { case (a, b) => b == 4L || a == 4L } ||
      out.filter { case ((a, b), _) => a == 4L || b == 4L }.values.forall(_ > 0),
      "the unrelated payload must not alias an exact dup")
  }

  test("sceneSegments: identical runs never cut, streams are independent") {
    import spark.implicits._
    val x = Array.tabulate(256)(i => ('a' + i % 26).toChar).mkString
    val y = Array.fill(256)('q').mkString
    // camera 0: X X X Y — at most two scenes whatever d(X,Y) is;
    // camera 1: X X — exactly one scene (its own lag state)
    val frames = Seq((0, 0L, x), (0, 1L, x), (0, 2L, x), (0, 3L, y),
      (1, 0L, x), (1, 1L, x))
      .toDF("camera", "frame_num", "text")
      .withColumn("frame", encode(col("text"), "UTF-8"))
    // cutHamming = 0: a cut everywhere the signature changes at all
    val strict = Multimodal.sceneSegments(frames, "camera", "frame_num",
        "frame", cutHamming = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // identical payloads share a signature: frames 0-2 are ONE scene
    assert(strict((0, 1L)) == ((0L, 2L, 3L)))
    assert(strict((0, 2L)) == ((3L, 3L, 1L)), s"y opens its own scene: $strict")
    assert(strict((1, 1L)) == ((0L, 1L, 2L)), "camera 1 is one scene")
    // cutHamming = 63: no distance can exceed it — one scene per camera
    val lax = Multimodal.sceneSegments(frames, "camera", "frame_num",
        "frame", cutHamming = 63)
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(lax == Map(0 -> 4L, 1 -> 2L))
  }
}
