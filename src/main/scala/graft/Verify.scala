package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q61_kmeans,q72_... restricts the dump to named
    // queries — a local iteration aid; the driver runs the full set
    val selected = Bench.bind(Bench.only(), sfDir)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // dump queries from a small thread pool: Spark schedules concurrent
    // jobs from multiple submitter threads (FIFO across them), so the
    // many sub-second queries overlap instead of serializing their
    // driver-side planning + job-turnaround latency — at 135+ queries
    // this is most of Verify's wall-clock. Pool size stays modest so no
    // single query is starved of cores.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only-by-design markers (engine sketches with no portable SQL
    // twin): lets the driver/judge distinguish "no oracle by design"
    // from "missing oracle" in CORRECTNESS_r{N}.
    val rowsOnlyJson =
      SparkEntry.rowsOnly.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), rowsOnlyJson)
    spark.stop()
  }
}
