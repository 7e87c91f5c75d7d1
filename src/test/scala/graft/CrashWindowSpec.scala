package graft

import org.apache.spark.sql.functions._

/** Crash-window redelivery proofs for the delta-partition ingest
  * contract: every monitor/index ingest must tolerate a replay of the
  * window where the delta landed but the state write was lost (the
  * foreachBatch at-least-once window) WITHOUT duplicating rows — the
  * dynamic-partition-overwrite write rewrites the batch's own
  * partition instead of appending. Simulated by dropping the state
  * table after a successful apply and re-applying the same batch. */
class CrashWindowSpec extends SparkSuite {
  import graft.operators.{Quality, Similarity}

  private def dropState(t: String): Unit = Catalog.dropTable(spark, t)

  test("psiIngest crash-window replay rewrites, never duplicates") {
    import spark.implicits._
    val (reportT, stateT) = ("graft_cw_psi_report", "graft_cw_psi_state")
    try {
      Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), length(col("text")).cast("double").as("v"))
      val ref = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
      val cur = docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
      val fn = Quality.psiIngest(ref, col("v"), 100.0, 8, reportT, stateT)
      fn(cur, 0L)
      val rows0 = spark.table(reportT).collect().toSet
      dropState(stateT) // crash between delta write and state write
      fn(cur, 0L)       // redelivery of the same batch
      assert(spark.table(reportT).collect().toSet == rows0,
        "crash-window replay must rewrite the partition byte-for-byte")
      assert(spark.table(reportT).count() == rows0.size,
        "crash-window replay must not append duplicate report rows")
    } finally Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("aucIngest + calibrationIngest crash-window replays are idempotent") {
    import spark.implicits._
    val ts = Seq("graft_cw_auc_spine", "graft_cw_auc_state",
      "graft_cw_cal_spine", "graft_cw_cal_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      val scored = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"),
          round((col("doc_id") % 100).cast("double") / 100.0, 6).as("score"),
          (col("doc_id") % 3 === 0).cast("int").as("y"))
        .localCheckpoint()
      val auc = Quality.aucIngest("score", "y", ts(0), ts(1))
      val cal = Quality.calibrationIngest("score", "y", 10, ts(2), ts(3))
      auc(scored, 0L); cal(scored, 0L)
      val (a0, c0) = (spark.table(ts(0)).count(), spark.table(ts(2)).count())
      dropState(ts(1)); dropState(ts(3))
      auc(scored, 0L); cal(scored, 0L)
      assert(spark.table(ts(0)).count() == a0, "auc spine must not grow")
      assert(spark.table(ts(2)).count() == c0, "cal spine must not grow")
      // merged readers still read the one-shot batch report
      val merged = Quality.aucMerged(spark, ts(0)).collect().head
      val batch = Quality.aucReport(scored, "score", "y").collect().head
      assert(merged == batch, "merged spine must equal one-shot AUC")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }

  test("ivfIngest crash-window replay leaves search results intact") {
    import graft.functions.VectorFunctions.asDoubleVec
    val (indexT, stateT) = ("graft_cw_ivf_index", "graft_cw_ivf_state")
    try {
      Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val fn = Similarity.ivfIngest(model, "vec_id", "emb", indexT, stateT)
      fn(e.filter(col("vec_id") < 30), 0L)
      fn(e.filter(col("vec_id") >= 30), 1L)
      val n0 = spark.table(indexT).count()
      dropState(stateT) // lose the high-water mark entirely
      fn(e.filter(col("vec_id") >= 30), 1L) // redelivery of batch 1
      assert(spark.table(indexT).count() == n0,
        "replayed postings must overwrite their own batch partition")
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("p_id"), col("emb").as("p_vec"))
      val got = Similarity.ivfSearchIndexed(probes, "p_id", "p_vec",
        indexT, model, "vec_id", "emb", k = 3, nProbe = 4)
      val want = Similarity.ivfTopK(probes, "p_id", "p_vec",
        e, "vec_id", "emb", model, "cell", "centroid_vec", k = 3, nProbe = 4)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("p_id"), col("vec_id"), col("sim"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      assert(key(got) == key(want),
        "post-replay index search must equal batch ivfTopK")
    } finally Seq(indexT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("linkageIngest: streamed matches equal batch linkageScores; crash-window idempotent") {
    import spark.implicits._
    import graft.operators.EntityResolution
    import graft.operators.EntityResolution.LinkField
    val ts = Seq("graft_cw_lk_match", "graft_cw_lk_index", "graft_cw_lk_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      // messy corpus: customers + a case-perturbed copy per 3rd record
      val c = Tables.customer(spark, sf("0.001"))
      val base = c.select(col("c_custkey").as("rec_id"),
        col("c_name").as("name"), col("c_nationkey").as("nation"),
        col("c_acctbal").as("bal"))
      val copyA = c.filter(col("c_custkey") % 3 === 0).select(
        (col("c_custkey") + 100000).as("rec_id"),
        upper(col("c_name")).as("name"), col("c_nationkey").as("nation"),
        col("c_acctbal").as("bal"))
      val recs = base.unionByName(copyA).localCheckpoint()
      val fields = Seq(
        LinkField("name", (a, b) => lower(a) === lower(b), 3.5, -1.5),
        LinkField("bal", (a, b) => a === b, 2.5, -0.75))
      val fn = EntityResolution.linkageIngest("rec_id", col("nation"),
        fields, 4.0, ts(0), ts(1), ts(2))
      // three arrival chunks split ACROSS the copy boundary so true
      // pairs land in different batches
      val chunks = Seq(
        recs.filter(col("rec_id") < 70),
        recs.filter(col("rec_id") >= 70 && col("rec_id") < 100040),
        recs.filter(col("rec_id") >= 100040))
      chunks.zipWithIndex.foreach { case (ch, i) => fn(ch, i.toLong) }
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("a_id"), col("b_id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val streamed = key(spark.table(ts(0)))
      val batch = key(EntityResolution.linkageScores(recs, "rec_id",
        col("nation"), fields).filter(col("score") >= 4.0))
      assert(streamed == batch,
        s"streamed matches must equal one-shot batch linkage: " +
          s"extra=${streamed.diff(batch).take(3)} missing=${batch.diff(streamed).take(3)}")
      // crash window: lose the state table, redeliver the last batch
      val (nm, ni) = (spark.table(ts(0)).count(), spark.table(ts(1)).count())
      Catalog.dropTable(spark, ts(2))
      fn(chunks.last, 2L)
      assert(spark.table(ts(0)).count() == nm, "matches must not grow")
      assert(spark.table(ts(1)).count() == ni, "index must not grow")
      assert(key(spark.table(ts(0))) == batch,
        "post-replay matches must still equal the batch linkage")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }

  test("conformalIngest: per-batch coverage equals the batch report; replay idempotent") {
    import spark.implicits._
    import graft.operators.Stats
    val (reportT, stateT) = ("graft_cw_conf_report", "graft_cw_conf_state")
    try {
      Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
      // deterministic scores on the 1e-2 grid; label = threshold truth
      val scored = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"),
          round((col("doc_id") % 100).cast("double") / 100.0, 6).as("score"),
          (length(col("text")) > 300).cast("int").as("y"))
        .localCheckpoint()
      val calib = scored.filter(col("doc_id") % 2 === 0).localCheckpoint()
      val eval_ = scored.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
      val fn = Stats.conformalIngest(calib, col("score"), col("y"),
        alpha = 0.1, reportT, stateT)
      val b0 = eval_.filter(col("doc_id") < 250)
      val b1 = eval_.filter(col("doc_id") >= 250)
      fn(b0, 0L); fn(b1, 1L)
      // each batch row must equal the batch conformalReport where the
      // calibration slice is `calib` and the eval slice is that batch
      def batchReport(b: org.apache.spark.sql.DataFrame) = {
        val union = calib.withColumn("cal", lit(true))
          .unionByName(b.withColumn("cal", lit(false)))
        Stats.conformalReport(union, col("score"), col("y"),
          col("cal"), alpha = 0.1)
          .select(col("n_eval"), col("qhat"), col("coverage"))
          .collect().head
      }
      val streamed = spark.table(reportT)
        .select(col("batch_id"), col("n_eval"), col("qhat"), col("coverage"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      Seq(0L -> b0, 1L -> b1).foreach { case (i, b) =>
        val want = batchReport(b)
        assert(streamed(i) ==
          (want.getLong(0), want.getDouble(1), want.getDouble(2)),
          s"batch $i coverage must equal the one-shot conformal report")
      }
      // crash window: drop state, redeliver batch 1
      val n0 = spark.table(reportT).count()
      Catalog.dropTable(spark, stateT)
      fn(b1, 1L)
      assert(spark.table(reportT).count() == n0,
        "crash-window replay must not append a duplicate coverage row")
    } finally Seq(reportT, stateT).foreach(Catalog.dropTable(spark, _))
  }

  test("compactDeltas folds the spine to one partition, probes unchanged, crash-recoverable") {
    import graft.operators.Sketches
    val prefix = "graft_cw_cms"
    val (deltaT, stateT) = (s"${prefix}_deltas", s"${prefix}_state")
    try {
      Seq(deltaT, stateT, s"${deltaT}_compact_tmp")
        .foreach(Catalog.dropTable(spark, _))
      val docs = Tables.documents(spark, sf("0.001"))
        .select(col("doc_id"), col("source"))
      val fn = Sketches.countMinIngest("source", prefix)
      (0 to 2).foreach(i => fn(docs.filter(col("doc_id") % 3 === i), i.toLong))
      def probe() = Sketches.countMinProbe(
          Sketches.countMinMerged(spark, prefix),
          docs.select(col("source")).distinct(), "source", w = 1024, d = 4)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val before = probe()
      assert(spark.table(deltaT).select(col("batch_id")).distinct().count() == 3)
      Sketches.compactDeltas(spark, deltaT, stateT,
        _.groupBy(col("row"), col("pos")).agg(sum(col("c")).as("c")))
      assert(spark.table(deltaT).select(col("batch_id")).distinct().count() == 1,
        "compaction must fold the spine to one partition")
      assert(probe() == before, "compaction must not change any probe")
      // new batches land alongside the compacted partition; the replay
      // guard still rejects old ids (state untouched)
      fn(docs.filter(col("doc_id") % 3 === 0), 1L) // stale id: must skip
      assert(probe() == before, "stale batch id must still be rejected")
      fn(docs.limit(50), 3L)
      assert(spark.table(deltaT).select(col("batch_id")).distinct().count() == 2)
      // crash recovery: simulate a crash after the live-table drop —
      // the complete compacted spine sits in the tmp table
      Sketches.compactDeltas(spark, deltaT, stateT,
        _.groupBy(col("row"), col("pos")).agg(sum(col("c")).as("c")))
      val after = probe()
      spark.table(deltaT).write.partitionBy("batch_id")
        .saveAsTable(s"${deltaT}_compact_tmp")
      Catalog.dropTable(spark, deltaT)
      Sketches.compactDeltas(spark, deltaT, stateT,
        _.groupBy(col("row"), col("pos")).agg(sum(col("c")).as("c")))
      assert(probe() == after, "recovery rebuild must restore the spine")
    } finally Seq(deltaT, stateT, s"${deltaT}_compact_tmp")
      .foreach(Catalog.dropTable(spark, _))
  }

  test("histogramIngest: merged quantiles equal the one-shot fixed-grid report") {
    import graft.operators.Sketches
    val prefix = "graft_cw_hist"
    val ts = Seq(s"${prefix}_deltas", s"${prefix}_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      val ev = Tables.events(spark, sf("0.001"))
        .select(col("event_id"), col("value"))
      val fn = Sketches.histogramIngest(col("value"), 10.0, prefix)
      (0 to 2).foreach(i => fn(ev.filter(col("event_id") % 3 === i), i.toLong))
      val merged = Sketches.histogramQuantilesMerged(spark, prefix, 10.0)
        .collect().head
      val batch = Sketches.fixedHistogramQuantiles(ev, col("value"), 10.0)
        .collect().head
      assert(merged == batch,
        s"merged streamed histogram must equal the one-shot report: $merged vs $batch")
      // crash window: drop state, redeliver batch 2 — counts must not
      // double (the delta partition rewrites)
      Catalog.dropTable(spark, ts(1))
      fn(ev.filter(col("event_id") % 3 === 2), 2L)
      assert(Sketches.histogramQuantilesMerged(spark, prefix, 10.0)
        .collect().head == batch,
        "crash-window replay must not change the merged quantiles")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }

  test("bucketSumsIngest: merged seasonal decomposition equals one-shot batch") {
    import graft.operators.EventOps
    import org.apache.spark.sql.types.DecimalType
    val prefix = "graft_cw_seas"
    val ts = Seq(s"${prefix}_deltas", s"${prefix}_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      val ev = Tables.events(spark, sf("0.01"))
        .select(col("event_id"), col("ts"), col("value"))
      val fn = EventOps.bucketSumsIngest("ts", "value", prefix)
      (0 to 2).foreach(i => fn(ev.filter(col("event_id") % 3 === i), i.toLong))
      val merged = EventOps.seasonalDecomposeMerged(spark, prefix)
        .orderBy(col("bucket")).collect()
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(sum(col("value").cast(DecimalType(27, 6))).as("y6"))
        .withColumn("hr", hour(col("bucket")).cast("long"))
      val batch = EventOps.seasonalDecompose(hourly, "bucket", "y6", "hr")
        .orderBy(col("bucket")).collect()
      assert(merged.length == batch.length && merged.length > 100)
      assert(merged.toSeq == batch.toSeq,
        "merged streamed decomposition must equal the one-shot batch run")
      // crash window: drop state, redeliver batch 2 — sums must not double
      Catalog.dropTable(spark, ts(1))
      fn(ev.filter(col("event_id") % 3 === 2), 2L)
      assert(EventOps.seasonalDecomposeMerged(spark, prefix)
        .orderBy(col("bucket")).collect().toSeq == batch.toSeq,
        "crash-window replay must not change the decomposition")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }

  test("sprtIngest: merged decision sequence equals one-shot batch") {
    import graft.operators.Stats
    val prefix = "graft_cw_sprt"
    val ts = Seq(s"${prefix}_deltas", s"${prefix}_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      val ev = Tables.events(spark, sf("0.01"))
        .select(col("event_id"),
          to_date(col("ts")).cast("string").as("lk"),
          col("event_type").isin("purchase", "click", "view").as("succ"))
      val fn = Stats.sprtIngest(col("lk"), col("succ"), prefix)
      (0 to 2).foreach(i => fn(ev.filter(col("event_id") % 3 === i), i.toLong))
      val merged = Stats.sprtMerged(spark, prefix,
        0.167054085, -0.251314428, 2.944438979).collect()
      val batch = Stats.sprtLooks(ev, col("lk"), col("succ"),
        0.167054085, -0.251314428, 2.944438979).collect()
      assert(merged.length == batch.length && merged.length >= 28)
      assert(merged.toSeq == batch.toSeq,
        "merged streamed SPRT must equal the one-shot batch decision sequence")
      // crash window: redeliver batch 2 — counts must not double, the
      // latched decision must not move
      fn(ev.filter(col("event_id") % 3 === 2), 2L)
      assert(Stats.sprtMerged(spark, prefix,
        0.167054085, -0.251314428, 2.944438979).collect().toSeq == batch.toSeq,
        "crash-window replay must not change the decision sequence")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }

  test("semDedupIngest crash-window replay recomputes the identical keep-set") {
    import graft.functions.VectorFunctions.asDoubleVec
    val ts = Seq("graft_cw_sd_corpus", "graft_cw_sd_index", "graft_cw_sd_state")
    try {
      ts.foreach(Catalog.dropTable(spark, _))
      val e = Tables.embeddings(spark, sf("0.001"))
        .select(col("vec_id"), asDoubleVec(col("embedding")).as("emb"))
      val model = Similarity.kMeans(e, "vec_id", "emb", k = 4, iters = 2)
        .select(col("cell"), col("centroid_vec"))
      val fn = Similarity.semDedupIngest(model, "vec_id", "emb", 0.99,
        ts(0), ts(1), ts(2))
      fn(e.filter(col("vec_id") < 30), 0L)
      fn(e.filter(col("vec_id") >= 30), 1L)
      val corpus0 = spark.table(ts(0)).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val (nc0, ni0) = (spark.table(ts(0)).count(), spark.table(ts(1)).count())
      dropState(ts(2))
      fn(e.filter(col("vec_id") >= 30), 1L) // crash-window redelivery
      assert(spark.table(ts(0)).count() == nc0, "corpus must not grow")
      assert(spark.table(ts(1)).count() == ni0, "index must not grow")
      val corpus1 = spark.table(ts(0)).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      assert(corpus1 == corpus0,
        "replay must recompute the identical keep-set (seniority join " +
          "reads only strictly earlier batch partitions)")
    } finally ts.foreach(Catalog.dropTable(spark, _))
  }
}
