package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables.load`'s schema memo: a table is inferred once per path,
  * reading confs and file fingerprint, and read with that schema after. */
class TablesSpec extends SparkSuite {

  /** The Spark jobs `body` starts, counted once the listener bus has
    * drained on both sides of it. */
  private def jobsOf(body: => Unit): Long = {
    val jobs = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlBridge.waitForListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftSqlBridge.waitForListeners(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory(Tables.scratchDir, "tables").toString

  test("a second load of a table starts no Spark job") {
    val dir = tempDir()
    spark.range(20).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.load(spark, dir, "t").schema) >= 1, "the first load infers")
    assert(jobsOf(Tables.load(spark, dir, "t").schema) === 0L)
    Tables.load(spark, sf("0.001"), "orders").schema
    assert(jobsOf(Tables.load(spark, sf("0.001"), "orders").schema) === 0L)
  }

  test("every table's schema equals the inferred one") {
    for (name <- Tables.Names) {
      val path = s"${sf("0.001")}/$name.parquet"
      assert(Tables.load(spark, sf("0.001"), name).schema ===
        spark.read.parquet(path).schema, name)
    }
  }

  test("a table rewritten with another schema is inferred again") {
    val dir = tempDir()
    spark.range(5).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq === Seq("id"))
    spark.range(3).selectExpr("cast(id AS string) AS name", "cast(id AS int) AS n")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.select("n").collect().map(_.getInt(0)).sorted.toSeq === Seq(0, 1, 2))
  }

  test("an events ts written as TIMESTAMP_NTZ loads as UTC timestamp with the same instants") {
    val dir = tempDir()
    val micros = Seq(0L, 1709296496123456L, 1735689599999999L)
    import spark.implicits._
    micros.toDF("us")
      // the session is UTC, so the wall clock is the instant's
      .select(col("us").as("user_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType.typeName ===
      "timestamp_ntz")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === micros.map(m => m -> m).toMap)
  }
}
