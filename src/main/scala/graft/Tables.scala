package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver-generated parquet tables plus cross-engine
  * numeric-parity helpers shared by every query in [[SparkEntry]].
  *
  * Parity strategy for float aggregates (Spark vs the driver's DuckDB
  * oracle): accumulating raw doubles is order-dependent, so the same sum
  * can differ in the last bits between engines (and between runs, once
  * partial aggregation splits differently). Instead we cast each addend
  * to DECIMAL(27,6) — exact and order-independent, with scale 6 because
  * money products carry up to 6 decimals (see [[moneySum]]) — sum the
  * decimals, and surface the result as DOUBLE. Both engines then produce
  * bit-identical values. Per-row products (e.g. price*(1-disc)) are safe
  * before the cast because a single IEEE-754 multiply is deterministic
  * and identical across engines.
  */
object Tables {
  val Names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * as a timestamp — read as raw nanos via the legacy conf and truncate
    * to µs, exactly what DuckDB's CAST(ts AS TIMESTAMP) does) and plain
    * TIMESTAMP(MICROS) without the UTC flag (which Spark reads as
    * TIMESTAMP_NTZ — cast to the session-UTC timestamp, an identity on
    * the stored micros). Adapt on schema so both generations and both
    * engines see identical event times. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The directory this JVM writes the files a query makes itself
    * (q237's rollup summary, q78's binaryFile fixtures): created on
    * first use, removed when the JVM exits. A path under
    * `java.io.tmpdir` itself is shared by every JVM on the host, so
    * two concurrent runs would overwrite or delete each other's files. */
  lazy val scratchDir: java.nio.file.Path = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook {
      try Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    dir
  }

  /** Order-independent, engine-exact sum of a money-scale double.
    * Scale 6 because every money input has exactly 2 decimals, so any
    * product of up to three of them has <= 6 — the cast therefore lands
    * exactly on the decimal grid in BOTH engines (Spark's
    * shortest-string rounding and DuckDB's binary rounding agree when
    * the value is ~1e-10 from a grid point, i.e. always here). */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(27, 6))).cast("double")

  /** Exact average: decimal sum then one double division. */
  def moneyAvg(c: Column): Column = moneySum(c) / count(lit(1))

  /** DuckDB mirror of [[moneySum]] for oracle SQL. */
  def sqlMoneySum(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(27,6))) AS DOUBLE)"

  /** DuckDB mirror of [[moneyAvg]]. */
  def sqlMoneyAvg(e: String): String = s"(${sqlMoneySum(e)} / COUNT(*))"
}

/** One registered query: the Spark program plus (when SQL-expressible)
  * the DuckDB oracle the driver hash-compares against. */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")
