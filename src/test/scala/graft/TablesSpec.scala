package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables.load`'s schema memo: a table's schema is read from one
  * parquet footer on the driver (no Spark job) once per path, reading
  * confs and file fingerprint, and the table is read with it after. */
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

  /** `body` with the session confs `kv` set (None unsets), each
    * restored to its former value afterwards. */
  private def withConfs[T](kv: (String, Option[String])*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    def put(k: String, v: Option[String]) = v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    kv.foreach((put _).tupled)
    try body finally saved.foreach((put _).tupled)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Whether the session sets `k` itself (an unset conf reads as its
    * default). */
  private def isSet(k: String): Boolean = spark.conf.getAll.contains(k)

  /** The footers `body` reads on the driver. */
  private def footersOf(body: => Unit): Long = {
    val before = Tables.footerReads.get
    body
    Tables.footerReads.get - before
  }

  test("a second load of a table starts no Spark job") {
    val dir = tempDir()
    spark.range(20).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(s"$dir/t.parquet")
    assert(footersOf(assert(jobsOf(Tables.load(spark, dir, "t").schema) === 0L,
      "the first load reads the footer on the driver")) === 1L)
    assert(footersOf(assert(jobsOf(Tables.load(spark, dir, "t").schema) === 0L)) === 0L)
    Tables.load(spark, sf("0.001"), "orders").schema
    assert(jobsOf(Tables.load(spark, sf("0.001"), "orders").schema) === 0L)
  }

  test("every table's schema equals the inferred one") {
    for (name <- Tables.Names) {
      val path = s"${sf("0.001")}/$name.parquet"
      assert(Tables.load(spark, sf("0.001"), name).schema ===
        spark.read.parquet(path).schema, name)
    }
    // a directory of part files as Spark writes it, with `_SUCCESS`
    // and `.crc` files that the footer pick must skip
    val dir = tempDir()
    spark.range(30).repartition(3).selectExpr("id",
        "cast(id AS string) AS s", "cast(id / 7 AS decimal(12, 2)) AS d",
        "timestamp_micros(id) AS ts", "array(id, id + 1) AS a",
        "named_struct('x', id, 'y', cast(id AS double)) AS st")
      .write.parquet(s"$dir/multi.parquet")
    val names = new java.io.File(s"$dir/multi.parquet").list().toSeq
    assert(names.count(_.endsWith(".parquet")) === 3, names)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(footersOf(assert(jobsOf(Tables.load(spark, dir, "multi").schema) === 0L)) === 1L)
    assert(Tables.load(spark, dir, "multi").schema ===
      spark.read.parquet(s"$dir/multi.parquet").schema)
    // a summary file's schema wins over the part files', `_common_metadata`
    // over `_metadata`
    def fileOf(cols: String*): java.nio.file.Path = {
      val out = s"${tempDir()}/one.parquet"
      spark.range(3).selectExpr(cols: _*).coalesce(1).write.parquet(out)
      new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    val summarized = Seq("_metadata" -> fileOf("id", "id AS m"),
      "_common_metadata" -> fileOf("id", "id AS c"))
    for (n <- 1 to 2) {
      val t = s"sum$n"
      spark.range(3).toDF("id").write.parquet(s"$dir/$t.parquet")
      summarized.take(n).foreach { case (name, f) =>
        java.nio.file.Files.copy(f, java.nio.file.Paths.get(s"$dir/$t.parquet/$name"))
      }
      val schema = Tables.load(spark, dir, t).schema
      assert(schema === spark.read.parquet(s"$dir/$t.parquet").schema, t)
      assert(schema.fieldNames.toSeq === Seq("id", if (n == 1) "m" else "c"), t)
    }
  }

  test("merged schemas and partition directories are still inferred by Spark") {
    val dir = tempDir()
    spark.range(4).selectExpr("id", "cast(id AS int) AS a")
      .write.parquet(s"$dir/m.parquet/b=1")
    spark.range(4).selectExpr("id", "cast(id AS string) AS c")
      .write.parquet(s"$dir/m.parquet/b=2")
    // neither reads a footer on the driver
    assert(footersOf {
      val partitioned = Tables.load(spark, dir, "m").schema
      assert(partitioned === spark.read.parquet(s"$dir/m.parquet").schema)
      assert(partitioned.fieldNames.last === "b")
    } === 0L)
    spark.range(4).selectExpr("id", "cast(id AS int) AS a")
      .write.parquet(s"$dir/f.parquet")
    spark.range(4).selectExpr("id", "cast(id AS string) AS c")
      .write.mode("append").parquet(s"$dir/f.parquet")
    withConfs("spark.sql.parquet.mergeSchema" -> Some("true")) {
      assert(footersOf {
        val merged = Tables.load(spark, dir, "f").schema
        assert(merged === spark.read.parquet(s"$dir/f.parquet").schema)
        assert(merged.fieldNames.toSet === Set("id", "a", "c"))
      } === 0L)
    }
    assert(Tables.load(spark, dir, "f").schema.size === 2, "one footer without merging")
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

  test("Tables.events leaves the session's confs alone and shares load's memo") {
    def copy(): String = {
      val dir = tempDir()
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"${sf("0.001")}/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      dir
    }
    withConfs(NanosAsLong -> None) {
      Tables.events(spark, sf("0.001")).schema
      // a fresh path, so that the footer is read
      assert(footersOf(Tables.events(spark, copy()).schema) === 1L)
      assert(!isSet(NanosAsLong))
      val dir = copy()
      assert(footersOf {
        Tables.load(spark, dir, "events").schema
        Tables.events(spark, dir).schema
      } === 1L)
      assert(!isSet(NanosAsLong))
    }
  }

  test("an events ts written as INT64 TIMESTAMP(NANOS) loads as UTC timestamp truncated to µs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir()
    val nanos = Seq(999L, 1709296496123456789L, 1735689599999999999L)
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (n, i) =>
      w.write(rows.newGroup().append("user_id", i.toLong).append("ts", n))
    } finally w.close()
    withConfs(NanosAsLong -> None) {
      val ev = Tables.events(spark, dir)
      assert(spark.conf.getAll.get(NanosAsLong) === Some("true"))
      assert(ev.schema("ts").dataType === TimestampType)
      val got = ev.select(col("user_id"), unix_micros(col("ts"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === nanos.zipWithIndex.map { case (n, i) => i.toLong -> n / 1000 }.toMap)
    }
  }
}
