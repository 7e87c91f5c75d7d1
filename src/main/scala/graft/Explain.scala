package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence capture: writes the `explain("formatted")` physical
  * plan of each registered query SPARK_GRAFT_ONLY names (every query
  * when unset) at SPARK_GRAFT_SF_DIR into
  * SPARK_GRAFT_PLAN_DIR/<query>_<SPARK_GRAFT_PLAN_SUFFIX>.txt — the
  * layout of plans/rNN/<query>_{before,after}.txt, one JVM for the
  * whole list. Timings and job counts come from `graft.Bench`.
  *
  * Usage: SPARK_GRAFT_ONLY=q212_hits,q222_link_prediction \
  *        SPARK_GRAFT_PLAN_DIR=plans/r10 SPARK_GRAFT_PLAN_SUFFIX=after \
  *        runMain graft.Explain
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val queries = Bench.bind(Bench.only(), sfDir)
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark).queryExecution.explainString(FormattedMode)
        val file = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.write(file, plan.getBytes("UTF-8"))
        println(s"[explain] wrote $file")
      } catch {
        case NonFatal(e) => System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
