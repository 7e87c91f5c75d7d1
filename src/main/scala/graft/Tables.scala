package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

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

  /** Reads a table with the schema [[schema]] remembers for it, so no
    * load of it starts a Spark job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  private def read(spark: SparkSession, path: String,
      onFooter: MessageType => Unit = _ => ()): DataFrame =
    spark.read.schema(schema(spark, path, onFooter)).parquet(path)

  /** The session confs that change the schema Spark infers from a
    * parquet footer. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (qualified path, values of [[SchemaConfs]]) -> (every file under
    * the path with its size and modification time, the inferred schema) */
  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[String]), (Seq[(String, Long, Long)], StructType)]

  /** Parquet footers [[footer]] has read on the driver. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong()

  /** The schema `spark.read.parquet(path)` infers, read once per path
    * and reading confs from one footer on the driver and then
    * remembered. The memo keys on the qualified path and the session's
    * values of [[SchemaConfs]], and is valid while every file under the
    * path keeps its name, size and modification time; a rewritten table
    * is read again. It holds no session and no data — every load still
    * scans its files — so, like a catalog entry, `Bench.sweep` leaves
    * it alone: a timed run recomputes every relation all the same. On a miss, `onFooter` sees the footer's
    * parquet schema before it is converted, and may set a reading conf.
    * Where one footer cannot give the answer (see [[footer]]), Spark
    * infers the schema, which starts a job. */
  private def schema(spark: SparkSession, path: String,
      onFooter: MessageType => Unit): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(files)
      else Seq(st)
    val root = fs.getFileStatus(p)
    val listed = files(root)
    val fingerprint = listed.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    def key = (root.getPath.toString, SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")))
    def memo = schemas.get(key).collect { case (fp, s) if fp == fingerprint => s }
    memo.getOrElse {
      val s = footer(spark, root, listed) match {
        case Some(f) =>
          onFooter(f.getParquetMetadata.getFileMetaData.getSchema)
          // `onFooter` may have changed the key
          memo.getOrElse(ParquetFileFormat.readSchemaFromFooter(
            f, new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        case None => spark.read.parquet(path).schema
      }
      schemas.put(key, (fingerprint, s))
      s
    }
  }

  /** The footer of the one file Spark's non-merging inference
    * (`ParquetUtils.inferSchema`) reads for `root`, read on the driver:
    * of the files Spark lists (no hidden name such as `_SUCCESS` or a
    * `.crc`), `_common_metadata`, else `_metadata`, else the first data
    * file in path order. None where one footer cannot give the answer:
    * under `spark.sql.parquet.mergeSchema`, with files in
    * subdirectories (`k=v` partitions), or with no data file. */
  private def footer(spark: SparkSession, root: FileStatus,
      listed: Seq[FileStatus]): Option[Footer] = {
    val summaries = Seq("_common_metadata", "_metadata")
    // InMemoryFileIndex's filter of the names it lists
    def hidden(n: String) = !summaries.exists(n.startsWith) &&
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    val visible = if (!root.isDirectory) Seq(Seq(root.getPath.getName) -> root) else
      listed.map(st => st.getPath.toString.stripPrefix(s"${root.getPath}/").split('/').toSeq -> st)
        .filterNot(_._1.exists(hidden))
    val pick =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled || visible.exists(_._1.size > 1)) None
      else {
        val top = visible.map(_._2).sortBy(_.getPath.toString)
        summaries.flatMap(n => top.find(_.getPath.getName == n)).headOption
          .orElse(top.find(st => !summaries.contains(st.getPath.getName)))
      }
    pick.map { st =>
      footerReads.incrementAndGet()
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()))
      try new Footer(st.getPath, reader.getFooter) finally reader.close()
    }
  }

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
    * engines see identical event times. The legacy conf is set on the
    * session only when the footer shows a NANOS `ts`: the scan reads it
    * when the query runs, so it stays set. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, s"$d/events.parquet", m =>
      if (m.containsField("ts") && isNanos(m.getType(m.getFieldIndex("ts"))))
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def isNanos(t: org.apache.parquet.schema.Type): Boolean =
    t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
      (t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })

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
