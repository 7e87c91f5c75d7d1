package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.Multimodal
import graft.streaming.SauronPipeline

/** The eye_of_sauron topology itself and the multimodal plumbing as
  * registered queries, driven from the `documents` table (payload =
  * UTF-8 bytes standing in for frame tensors). The topology query is
  * rows-only checked (the stub model is xxhash-derived, not SQL); the
  * featurize query is oracle-checked through its md5 chunk signature.
  */
object PipelineQueries {

  /** documents → frame messages: 6 "cameras", monotone frame numbers. */
  private def framesFromDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      (col("doc_id") % 6).cast("int").as("camera"),
      (col("doc_id") / lit(6)).cast("long").as("frame_num"),
      timestamp_micros(lit(1700000000000000L) + col("doc_id") * 33000L).as("ts"),
      encode(col("text"), "UTF-8").as("frame"),
      lit("|u1").as("dtype"),
      array(col("n_chars").cast("int"), lit(1)).as("shape"))

  /** Materialize the first `n` documents as real files on local disk
    * (one "{source}_{doc_id}.bin" per doc, UTF-8 payload), so the
    * binaryFile source reads genuine files, under this JVM's
    * [[Tables.scratchDir]]. Deterministic per sfDir; rebuilt from
    * scratch on every call (delete + rewrite) so stale fixtures can
    * never leak between testdata generations. */
  private def binaryFixtureDir(s: SparkSession, d: String, n: Int): String = {
    import java.nio.file.Files
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = Tables.scratchDir.resolve(s"graft_binfix_$key")
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(dir)
    Tables.documents(s, d).filter(col("doc_id") < n)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .foreach { r =>
        Files.write(dir.resolve(s"${r.getString(1)}_${r.getLong(0)}.bin"),
          r.getString(2).getBytes("UTF-8"))
      }
    dir.toString
  }

  def all: Seq[(String, Q)] = Seq(

    // ---- q78: real binaryFile-source ingest (S6 under the oracle) --------
    "q78_binary_ingest" -> Q(
      (s, d) => {
        val dir = binaryFixtureDir(s, d, n = 64)
        Multimodal.ingestBinaryFiles(s, dir, glob = "*.bin")
          .select(
            regexp_extract(col("file_name"), "_([0-9]+)\\.bin$", 1)
              .cast("long").as("doc_id"),
            col("file_name"), col("label"),
            col("meta.n_bytes").as("n_bytes"),
            md5(col("payload")).as("payload_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               source || '_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
               upper(substr(source, 1, 1)) || lower(substr(source, 2)) AS label,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 64
        ORDER BY doc_id"""),
      "The real binaryFile source (S6) end to end: documents round-trip " +
        "through actual files, filenames parse back to labels per the " +
        "reference's rule, sizes and payload digests hash-match the " +
        "table the fixtures came from."),

    // ---- q51: multimodal featurize (binary chunks + stub features) ------
    "q51_mm_featurize" -> Q(
      (s, d) => Multimodal.featurize(Tables.documents(s, d), "doc_id", "text")
        .select(
          col("doc_id"),
          col("meta.n_bytes").as("n_bytes"),
          size(col("features")).as("n_features"),
          size(col("chunk_hashes")).as("n_chunks"),
          concat_ws(",", col("chunk_hashes")).as("chunk_sig"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
          CAST(strlen(text) AS BIGINT) AS n_bytes,
          8 AS n_features,
          CAST(len(list_filter(list_transform([0,1,2,3],
            i -> CASE WHEN length(text) > i*64 THEN md5(substr(text, i*64+1, 16)) END),
            x -> x IS NOT NULL)) AS INT) AS n_chunks,
          array_to_string(list_filter(list_transform([0,1,2,3],
            i -> CASE WHEN length(text) > i*64 THEN md5(substr(text, i*64+1, 16)) END),
            x -> x IS NOT NULL), ',') AS chunk_sig
        FROM documents
        ORDER BY doc_id"""),
      "Binary payload chunk sampling + stub feature extraction (decode STUB)."),

    // ---- q60: the full reference topology, batch form (md5-stub oracle) --
    "q60_pipeline_topology" -> Q(
      (s, d) => {
        val frames = framesFromDocs(s, d)
        val model: SauronPipeline.FaceModel = SauronPipeline.stubDetectPortable(_, 64)
        // target set = faces the stub detector finds in the first 10 docs
        val detected = SauronPipeline.detectStage(
          frames.filter(col("frame_num") * 6 + col("camera") < 10), model)
        val targets = detected
          .select(col("camera"), col("frame_num"), posexplode(col("faces")).as(Seq("pos", "f")))
          .select(((col("frame_num") * 6 + col("camera")) * 4 + col("pos")).as("t_id"),
                  col("f.enc").as("t_enc"))
          .withColumn("t_name", concat(lit("person_"), col("t_id")))
        SauronPipeline.process(frames, targets, tolerance = 1e-9, model = model)
          .select(col("camera"), col("frame_num"), col("prediction"),
                  col("topic"), size(col("annotations")).as("n_faces"),
                  col("key"))
          .orderBy(col("camera"), col("frame_num"))
      },
      Some(OracleGen.q60Sql(dim = 64, tolerance = 1e-9,
        topicPrefix = "predicted_object_raw_frame_topic")),
      "End-to-end topology: detect(md5 stub) -> broadcast match -> " +
        "route; the portable stub model makes the whole pipeline " +
        "recomputable by the SQL oracle.")
    ,

    // ---- q121: perceptual-hash near-dup over binary payloads --------------
    "q121_phash_neardup" -> Q(
      (s, d) => {
        import graft.operators.Multimodal
        val media = Multimodal.ingestText(Tables.documents(s, d), "doc_id", "text")
        // maxHamming 3 rides the 4 x 16-bit banding: bands > maxHamming,
        // so the pigeonhole recall guarantee is total (a 6-bit radius
        // would auto-switch to 8 x 8-bit bands — denser buckets)
        Multimodal.phashNearDup(media, "doc_id", "payload", maxHamming = 3)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""
        WITH m AS (
          SELECT doc_id, text,
                 greatest(CAST((strlen(text) + 63) // 64 AS INT), 1) AS cw
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 63), i ->
                   (CAST(concat('0x', substr(md5(substr(text, i*cw + 1, cw)), 1, 1)) AS BIGINT) % 2) *
                   (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                         ELSE (CAST(1 AS BIGINT) << i) END)))
                   AS BIGINT) AS sig
          FROM m
        ), bands AS (
          SELECT doc_id, sig, k, (sig >> (k * 16)) & 65535 AS bv
          FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.sig AS a_sig, b.sig AS b_sig
          FROM bands a JOIN bands b
            ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, CAST(bit_count(xor(a_sig, b_sig)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(a_sig, b_sig)) <= 3
        ORDER BY a_id, b_id"""),
      "Multimodal dedup: perceptual-hash-shaped 64-bit chunk-parity " +
        "signature over binary payloads (DCT stubbed, locality real), " +
        "16-bit-band candidate generation with bands > maxHamming so " +
        "the pigeonhole recall guarantee is total, integer Hamming " +
        "verify. Signatures are a projection; candidates come from an " +
        "8-byte-key equi-join — payload bytes never shuffle.")
    ,

    // ---- q200: perceptual scene segmentation over frame streams -----------
    "q200_scene_segments" -> Q(
      (s, d) =>
        graft.operators.Multimodal.sceneSegments(framesFromDocs(s, d),
          stream = "camera", order = "frame_num", payload = "frame",
          cutHamming = 40)
          .orderBy(col("camera"), col("scene_id")),
      Some("""
        WITH f AS (
          SELECT CAST(doc_id % 6 AS INT) AS camera,
                 CAST(doc_id // 6 AS BIGINT) AS frame_num, text,
                 greatest(CAST((strlen(text) + 63) // 64 AS INT), 1) AS cw
          FROM documents
        ), s AS (
          SELECT camera, frame_num,
                 CAST(list_sum(list_transform(generate_series(0, 63), i ->
                   (CAST(concat('0x', substr(md5(substr(text, i*cw + 1, cw)), 1, 1)) AS BIGINT) % 2) *
                   (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                         ELSE (CAST(1 AS BIGINT) << i) END)))
                   AS BIGINT) AS sig
          FROM f
        ), c AS (
          SELECT camera, frame_num, sig,
                 lag(sig) OVER (PARTITION BY camera ORDER BY frame_num)
                   AS prev_sig
          FROM s
        ), k AS (
          SELECT camera, frame_num,
                 CASE WHEN prev_sig IS NULL
                        OR bit_count(xor(sig, prev_sig)) > 40
                      THEN 1 ELSE 0 END AS cut
          FROM c
        ), g AS (
          SELECT camera, frame_num,
                 CAST(SUM(cut) OVER (PARTITION BY camera ORDER BY frame_num
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS scene_id
          FROM k)
        SELECT camera, scene_id,
               MIN(frame_num) AS start_frame, MAX(frame_num) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames
        FROM g GROUP BY camera, scene_id
        ORDER BY camera, scene_id"""),
      "Perceptual scene segmentation per camera stream: consecutive " +
        "frames' chunk-parity signatures (q121's, DCT stubbed) compare " +
        "by Hamming distance, a distance > 40 opens a new scene, and a " +
        "running cut count labels scenes — the keyframe-selection cut " +
        "the reference's blind frame sampling lacks. Signatures are a " +
        "projection (payload bytes never shuffle); the lag/cumsum " +
        "windows partition per stream, scene detection's inherent " +
        "parallelism unit.")
  )
}
