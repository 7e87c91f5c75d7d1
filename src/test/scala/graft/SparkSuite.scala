package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM per forked test run). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(s: String): String = s"/root/testdata/sf$s"

  /** Evaluates `build` with every size guard forced onto its
    * distributed branch (`Route.ForceDistributedConf`). Guards route while a
    * DataFrame is built, so the returned DataFrame keeps its route when
    * it runs later. */
  def forcedDistributed[T](build: => T): T = {
    spark.conf.set(graft.operators.Route.ForceDistributedConf, "true")
    try build finally spark.conf.unset(graft.operators.Route.ForceDistributedConf)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // per-run dir: a shared path would collide with leftovers of a
      // killed run (LOCATION_ALREADY_EXISTS) or a concurrent checkout
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
