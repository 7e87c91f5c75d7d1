package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Rollups
import graft.operators.Rollups.RollupDef

/** Materialized-rollup routing: the optimizer rewrite must fire on
  * subsumed aggregates (plan-pinned: the summary is scanned, the base
  * is not), must NOT fire on anything outside the contract (extra
  * measures, non-grain grouping, DISTINCT, non-grain filters), and the
  * incremental twin's merged deltas must equal the one-shot build —
  * including after a crash-window replay. */
class RollupSpec extends SparkSuite {

  /** Another suite may have run q237 on this shared session and left
    * its lineitem rollup registered; the path lookup would route to
    * THAT summary and the pins here would assert against the wrong
    * one. Queries re-register on every invocation, so clearing is
    * always safe. */
  private def isolated[A](body: => A): A = {
    graft.plans.RollupRouting.unregisterAll()
    body
  }

  private def scans(df: DataFrame, frag: String): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(frag))
        case _ => false
      }
      case _ => false
    }

  private val grain = RollupDef(
    groupCols = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
    sums = Seq(
      "l_quantity" -> Some(DecimalType(27, 6)),
      "l_extendedprice" -> Some(DecimalType(27, 6))),
    mins = Seq("l_discount"), maxs = Seq("l_tax"))

  private def q1Shape(li: DataFrame): DataFrame = li
    .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    .groupBy(col("l_returnflag"), col("l_linestatus"))
    .agg(
      sum(col("l_quantity").cast(DecimalType(27, 6)))
        .cast("double").as("sum_qty"),
      min(col("l_discount")).as("min_disc"),
      max(col("l_tax")).as("max_tax"),
      count(lit(1)).as("n"))
    .orderBy(col("l_returnflag"), col("l_linestatus"))

  test("subsumed aggregate routes to the summary and is value-exact") { isolated {
    val li = Tables.lineitem(spark, sf("0.001"))
    val key = "rollupspec_pos"
    val path = System.getProperty("java.io.tmpdir") + "/graft_rollupspec_pos"
    try {
      // expected values BEFORE registration (nothing to route to)
      val expected = q1Shape(li).collect().toSeq
      Rollups.materialize(li, key, path, grain)
      val routed = q1Shape(li)
      assert(scans(routed, "graft_rollupspec_pos"),
        "optimized plan must scan the summary")
      assert(!scans(routed, "lineitem.parquet"),
        "optimized plan must NOT scan the base")
      assert(routed.collect().toSeq == expected,
        "routed values must equal the direct aggregation bit-for-bit")
    } finally Rollups.unregister(key)
  } }

  test("non-subsumed aggregates are left untouched") { isolated {
    val li = Tables.lineitem(spark, sf("0.001"))
    val key = "rollupspec_neg"
    val path = System.getProperty("java.io.tmpdir") + "/graft_rollupspec_neg"
    try {
      Rollups.materialize(li, key, path, grain)
      val cases: Seq[(String, DataFrame)] = Seq(
        // unmapped measure (sum of a product expression)
        "expr measure" -> li.groupBy(col("l_returnflag"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev")),
        // unmapped sum cast (raw double, registered cast is DECIMAL)
        "cast mismatch" -> li.groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("s")),
        // grouping outside the grain
        "non-grain group" -> li.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n")),
        // filter on a non-grain column
        "non-grain filter" -> li.filter(col("l_quantity") > 10)
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n")),
        // DISTINCT aggregate
        "distinct" -> li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_linestatus")).as("d")),
        // average is deliberately unmapped in v1
        "avg" -> li.groupBy(col("l_returnflag"))
          .agg(avg(col("l_quantity")).as("a")))
      for ((label, df) <- cases) {
        assert(scans(df, "lineitem.parquet"), s"$label: base must be scanned")
        assert(!scans(df, "graft_rollupspec_neg"),
          s"$label: summary must NOT be scanned")
      }
    } finally Rollups.unregister(key)
  } }

  test("grain-subset group-by and global aggregate both route") { isolated {
    val li = Tables.lineitem(spark, sf("0.001"))
    val key = "rollupspec_subset"
    val path = System.getProperty("java.io.tmpdir") + "/graft_rollupspec_sub"
    try {
      // def, not val: a DataFrame caches its QueryExecution, so a frame
      // built before registration would never see the rule
      def coarse = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(27, 6)))
            .cast("double").as("s"))
        .orderBy(col("l_returnflag"))
      def global = li.agg(count(lit(1)).as("n"))
      val (expCoarse, expGlobal) =
        (coarse.collect().toSeq, global.collect().toSeq)
      Rollups.materialize(li, key, path, grain)
      assert(scans(coarse, "graft_rollupspec_sub") &&
        !scans(coarse, "lineitem.parquet"),
        "grain-subset group-by must route")
      assert(scans(global, "graft_rollupspec_sub") &&
        !scans(global, "lineitem.parquet"),
        "global aggregate must route")
      assert(coarse.collect().toSeq == expCoarse)
      assert(global.collect().toSeq == expGlobal)
    } finally Rollups.unregister(key)
  } }

  test("rollupIngest: merged deltas equal the one-shot summary; replay idempotent") { isolated {
    val (deltaT, stateT) = ("graft_cw_rollup_deltas", "graft_cw_rollup_state")
    try {
      Seq(deltaT, stateT).foreach(Catalog.dropTable(spark, _))
      // the raw scan, not a checkpoint: registration pins the scan's
      // root paths, and a checkpointed plan has no file-source leaf
      val li = Tables.lineitem(spark, sf("0.001"))
      val b0 = li.filter(col("l_orderkey") % 2 === 0)
      val b1 = li.filter(col("l_orderkey") % 2 =!= 0)
      val fn = Rollups.rollupIngest(grain, deltaT, stateT)
      fn(b0, 0L); fn(b1, 1L)
      def key(df: DataFrame) = df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val oneShot = Rollups.materialize(li, "rollupspec_ing",
        System.getProperty("java.io.tmpdir") + "/graft_rollupspec_ing",
        grain)
      val merged = Rollups.rollupMerged(spark, deltaT, grain)
      assert(key(merged) == key(oneShot),
        "merged deltas must equal the one-shot summary")
      // crash window: delta landed, state write lost, batch replayed
      Catalog.dropTable(spark, stateT)
      fn(b1, 1L)
      assert(key(Rollups.rollupMerged(spark, deltaT, grain)) == key(oneShot),
        "crash-window replay must rewrite its partition, not double-count")
    } finally {
      Rollups.unregister("rollupspec_ing")
      Seq(deltaT, stateT).foreach(Catalog.dropTable(spark, _))
    }
  } }

  test("routing through a persisted merged-delta summary matches the base") { isolated {
    val (deltaT, stateT) = ("graft_cw_rollup2_deltas", "graft_cw_rollup2_state")
    val key = "rollupspec_stream_route"
    val path = System.getProperty("java.io.tmpdir") + "/graft_rollupspec_sr"
    try {
      Seq(deltaT, stateT).foreach(Catalog.dropTable(spark, _))
      val li = Tables.lineitem(spark, sf("0.001"))
      val fn = Rollups.rollupIngest(grain, deltaT, stateT)
      fn(li.filter(col("l_orderkey") % 3 === 0), 0L)
      fn(li.filter(col("l_orderkey") % 3 === 1), 1L)
      fn(li.filter(col("l_orderkey") % 3 === 2), 2L)
      val expected = q1Shape(li).collect().toSeq
      Rollups.rollupMerged(spark, deltaT, grain)
        .write.mode("overwrite").parquet(path)
      Rollups.registerSummary(li, spark.read.parquet(path), key, grain)
      val routed = q1Shape(li)
      assert(scans(routed, "graft_rollupspec_sr"),
        "query must route through the streamed summary")
      assert(routed.collect().toSeq == expected,
        "streamed-summary routing must be value-exact")
    } finally {
      Rollups.unregister(key)
      Seq(deltaT, stateT).foreach(Catalog.dropTable(spark, _))
    }
  } }

  test("q237 writes its summary under this JVM's own scratch directory") {
    val dir = Tables.scratchDir
    assert(Tables.scratchDir eq dir, "one directory per JVM")
    assert(dir.getParent != null && java.nio.file.Files.isDirectory(dir))
    assert(dir.toRealPath() !=
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")).toRealPath())
    val q = SparkEntry.queries("q237_rollup_route")(spark, sf("0.001"))
    assert(scans(q, dir.resolve("graft_rollup_lineitem_").toString),
      "the routed summary lies inside the scratch directory")
  }
}

