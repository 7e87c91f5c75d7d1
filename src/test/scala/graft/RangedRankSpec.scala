package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Skew.rangedRank / rangedRanks / ntileFromRank to the
  * unpartitioned-window semantics they replace (q174/q184/q265
  * re-keys): global rank (one order or several in one pass),
  * running decimal prefix sums, and NTile bucketing must be
  * value-identical to row_number()/sum()/ntile() over a single-
  * partition ORDER BY window, for asc and desc orders, with n both
  * divisible and non-divisible by the bucket count. */
class RangedRankSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rangedRank rank and prefix sums match the unpartitioned window") {
    val df = spark.range(1501).select(col("id").as("u"),
      pmod(xxhash64(col("id")), lit(40)).as("freq"),
      (pmod(xxhash64(col("id"), lit(7)), lit(1000)).cast("double") / 100)
        .cast(org.apache.spark.sql.types.DecimalType(27, 6)).as("v"))
    for (order <- Seq(Seq(col("freq"), col("u")),
                      Seq(col("freq").desc, col("u")))) {
      val ranked = graft.operators.Skew.rangedRank(df, order,
        prefixSums = Seq("cs" -> col("v")))
      val w = Window.orderBy(order: _*)
      val truth = df
        .withColumn("trk", row_number().over(w).cast("long"))
        .withColumn("tcs", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val j = ranked.join(truth, Seq("u", "freq", "v"))
      assert(j.filter(col("_rank") =!= col("trk")).count() === 0L)
      assert(j.filter(col("cs") =!= col("tcs")).count() === 0L)
      assert(j.filter(col("_n") =!= lit(1501L)).count() === 0L)
      assert(j.filter(col("_tot_cs").isNotNull).count() === 1501L)
      for (k <- Seq(5, 7)) {
        val nt = j.withColumn("nt",
          graft.operators.Skew.ntileFromRank(col("_rank"), col("_n"), k))
          .withColumn("tnt", ntile(k).over(w))
        assert(nt.filter(col("nt") =!= col("tnt")).count() === 0L)
      }
    }
  }

  private def relation(n: Long) = spark.range(n).select(col("id").as("u"),
    pmod(xxhash64(col("id")), lit(40)).as("freq"),
    // every fifth value null: the running sum stays null until the
    // first non-null value, as sum() over the window does
    when(col("id") % 5 =!= 0,
      (pmod(xxhash64(col("id"), lit(7)), lit(1000)).cast("double") / 100)
        .cast(org.apache.spark.sql.types.DecimalType(27, 6))).as("v"))

  test("rangedRank matches the unpartitioned window under AQE on/off, " +
      "1-16 shuffle partitions and 0-1501 rows") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (aqe <- Seq(true, false); parts <- Seq(1, 3, 8, 16);
           n <- Seq(0L, 2L, 7L, 1501L)) {
        spark.conf.set(keys(0), aqe.toString)
        spark.conf.set(keys(1), parts.toString)
        val what = s"aqe=$aqe partitions=$parts n=$n"
        val df = relation(n)
        val order = if (parts % 2 == 1) Seq(col("freq"), col("u"))
          else Seq(col("freq").desc, col("u"))
        val ranked = graft.operators.Skew.rangedRank(df, order,
          prefixSums = Seq("cs" -> col("v")))
        val w = Window.orderBy(order: _*)
        val truth = df
          .withColumn("_rank", row_number().over(w).cast("long"))
          .withColumn("cs", sum(col("v")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("_tot_cs", sum(col("v")).over(Window.partitionBy()))
          .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
          .withColumn("nt5", ntile(5).over(w))
          .withColumn("nt7", ntile(7).over(w))
        for (c <- Seq("cs", "_tot_cs"))
          assert(ranked.schema(c).dataType === truth.schema(c).dataType,
            s"$what: $c type")
        val got = ranked
          .withColumn("nt5", graft.operators.Skew.ntileFromRank(
            col("_rank"), col("_n"), 5))
          .withColumn("nt7", graft.operators.Skew.ntileFromRank(
            col("_rank"), col("_n"), 7))
        val cols = Seq("u", "_rank", "cs", "_tot_cs", "_n", "nt5", "nt7")
          .map(col)
        def rows(d: org.apache.spark.sql.DataFrame) =
          d.select(cols: _*).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
            .toSeq
        val g = rows(got)
        assert(g.length === n, what)
        assert(g === rows(truth), what)
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("rangedRanks matches three unpartitioned windows under AQE on/off, " +
      "1-16 shuffle partitions and 0-1501 rows") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    // asc, desc, and one on the nullable v (nulls last, not asc's default)
    val orders = Seq(Seq(col("freq"), col("u")), Seq(col("freq").desc, col("u")),
      Seq(col("v").asc_nulls_last, col("u")))
    try {
      for (aqe <- Seq(true, false); parts <- Seq(1, 3, 8, 16);
           n <- Seq(0L, 2L, 7L, 1501L)) {
        spark.conf.set(keys(0), aqe.toString)
        spark.conf.set(keys(1), parts.toString)
        val what = s"aqe=$aqe partitions=$parts n=$n"
        val df = relation(n)
        val ranked = graft.operators.Skew.rangedRanks(df, "u", orders)
        assert(ranked.columns.toSeq ===
          df.columns.toSeq ++ Seq("_rank_0", "_rank_1", "_rank_2", "_n"), what)
        val truth = orders.zipWithIndex.foldLeft(df) { case (d, (o, i)) =>
          val w = Window.orderBy(o: _*)
          d.withColumn(s"_rank_$i", row_number().over(w).cast("long"))
            .withColumn(s"nt$i", ntile(5).over(w))
        }.withColumn("_n", count(lit(1)).over(Window.partitionBy()))
        val got = (0 until 3).foldLeft(ranked) { (d, i) =>
          d.withColumn(s"nt$i", graft.operators.Skew.ntileFromRank(
            col(s"_rank_$i"), col("_n"), 5))
        }
        val cols = (df.columns ++ Seq("_rank_0", "_rank_1", "_rank_2", "_n",
          "nt0", "nt1", "nt2")).toSeq.map(col)
        def rows(d: org.apache.spark.sql.DataFrame) =
          d.select(cols: _*).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
            .toSeq
        val g = rows(got)
        assert(g.length === n, what)
        assert(g.map(_.head).distinct.length === n, s"$what: one row per input row")
        assert(g === rows(truth), what)
        val plan = ranked.queryExecution.executedPlan
        val found = new AdaptiveSparkPlanHelper {}.find(plan) {
          case _: BroadcastExchangeLike | _: WindowExec => true
          case _ => false
        }
        assert(found.isEmpty, s"$what: broadcast or window in the plan:\n$plan")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("rank-only rangedRank is stable across collects and plans no " +
      "broadcast and no window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val ranked = graft.operators.Skew.rangedRank(relation(1501),
      Seq(col("freq").desc, col("u")))
    def ranks = ranked.select(col("u"), col("_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val first = ranks
    assert(first.map(_._2).sorted === (1L to 1501L))
    assert(ranks === first)
    val plan = ranked.queryExecution.executedPlan
    val found = new AdaptiveSparkPlanHelper {}.find(plan) {
      case _: BroadcastExchangeLike | _: WindowExec => true
      case _ => false
    }
    assert(found.isEmpty, s"broadcast or window in the plan:\n$plan")
  }
}
