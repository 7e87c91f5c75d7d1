package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A batch workload: passes over a fixed list of registered queries.
  *
  * Every query goes through the program's public entry point,
  * `SparkEntry.queries(name)(spark, dir)`, and is then fully materialized
  * with the noop-sink write `graft.Bench` uses. A pass runs the queries in
  * sorted order; the blocks a query pinned are released after it, outside
  * its timing.
  *
  * Phases, in order:
  *  1. set-up (session with the program's extensions, input tables
  *     resolved), timed from JVM start;
  *  2. one check pass that writes every output as parquet for the DuckDB
  *     comparison run.py makes after the JVM ends; it is also the warm-up;
  *  3. measured passes for `--seconds` seconds (at least `min-passes`).
  */
final class BatchWorkload(a: Main.Args, trace: Option[Trace]) {
  private val dir = a("data")
  private val queries = a.list("queries").sorted
  private val tables = a.list("tables")
  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  private def releaseCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** One pass; returns (query -> (build s, run s)) for the queries that
    * ran, or None for the queries that threw. */
  private def pass(spark: SparkSession, parent: String, name: String,
      sink: (org.apache.spark.sql.DataFrame, String) => Unit): Map[String, (Double, Double)] = {
    def body(passId: String): Map[String, (Double, Double)] = queries.flatMap { q =>
      attempted += 1
      def timed[T](kind: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = trace match {
          case Some(t) => t.span(spark, kind, s"$q $kind", passId)(_ => f)
          case None => f
        }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      try {
        val (df, build) = timed("build")(graft.SparkEntry.queries(q)(spark, dir))
        val (_, run) = timed("run")(sink(df, q))
        Some(q -> (build, run))
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      } finally releaseCaches(spark)
    }.toMap
    trace match {
      case Some(t) => t.span(spark, "pass", name, parent)(body)
      case None => body("")
    }
  }

  def run(): Map[String, Any] = {
    val spark = Session.build(a)
    tables.foreach(t => graft.Tables.load(spark, dir, t).schema)
    val setupS = Session.sinceJvmStart
    trace.foreach(_.attach(spark))
    def phase[T](name: String)(body: String => T): T = trace match {
      case Some(t) => t.span(spark, "phase", name, "")(body)
      case None => body("")
    }
    val noop: (org.apache.spark.sql.DataFrame, String) => Unit =
      (df, _) => df.write.mode("overwrite").format("noop").save()
    val outputs = s"${a.out}/outputs"

    phase("check") { id =>
      pass(spark, id, "check", (df, q) => df.write.mode("overwrite").parquet(s"$outputs/$q"))
    }
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outputs/oracle_sql.json"),
      Json.obj(queries.filter(oracle.contains).map(q => q -> oracle(q))).getBytes("UTF-8"))

    val measured = mutable.ArrayBuffer.empty[Map[String, (Double, Double)]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val gc0 = Host.gcSeconds
    val cpu0 = Host.processCpuSeconds
    val w0 = System.currentTimeMillis()
    phase("measure") { id =>
      val t0 = System.nanoTime()
      while (measured.size < a.int("min-passes") || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val p0 = System.nanoTime()
        measured += pass(spark, id, s"measure ${measured.size + 1}", noop)
        passTimes += (System.nanoTime() - p0) / 1e9
      }
    }
    val w1 = System.currentTimeMillis()
    val n = measured.size.toDouble
    val gc = (Host.gcSeconds - gc0) / n
    val cpu = (Host.processCpuSeconds - cpu0) / n

    // per query: its median time over the measured passes
    val perQuery = queries.flatMap { q =>
      val xs = measured.flatMap(_.get(q)).map { case (b, r) => b + r }
      if (xs.isEmpty) None else Some(q -> Stats.median(xs.toSeq))
    }.toMap
    val workS = Stats.median(passTimes.toSeq)
    // drain_fps is queries / work_s by construction: the same measurement
    // as work_s, reported because every workload reports every metric
    val e2e = Map(
      "setup_s" -> setupS,
      "work_s" -> workS,
      "latency_p50_ms" -> Stats.median(perQuery.values.toSeq) * 1000,
      "latency_p99_ms" -> Stats.quantile(perQuery.values.toSeq, 0.99) * 1000,
      "drain_fps" -> queries.size / workS)

    val layer = trace.map { t =>
      t.awaitQuiet()
      val w = t.window(w0, w1).map { case (k, v) => k -> v / n }
      t.detach(spark)
      w ++ Map(
        "queries.build_s" -> measured.map(_.values.map(_._1).sum).sum / n,
        "queries.run_s" -> measured.map(_.values.map(_._2).sum).sum / n,
        "jvm.gc_s" -> gc,
        "jvm.process_cpu_s" -> cpu)
    }.getOrElse(Map.empty)
    spark.stop()

    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "checks" -> Seq.empty[Map[String, Any]],
      "outputs" -> outputs,
      "e2e" -> e2e,
      "layer" -> layer,
      "raw" -> Map(
        "setup_s" -> setupS,
        "passes_s" -> passTimes.toSeq,
        "query_median_s" -> perQuery,
        "jvm_gc_s_per_pass" -> gc,
        "process_cpu_s_per_pass" -> cpu))
  }
}
