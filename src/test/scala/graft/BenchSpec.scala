package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement harness the mains share, run on the test session
  * (never through `main`, whose stop would end the shared session). */
class BenchSpec extends SparkSuite {

  test("SPARK_GRAFT_ONLY: unset selects the default, names come back sorted, unknown names fail") {
    assert(Bench.only(Seq("b", "a"), None) === Seq("b", "a"))
    assert(Bench.only(Seq("b", "a"), Some(" , ")) === Seq("b", "a"))
    assert(Bench.only(Seq("b"), Some("q199_kcore, q184_rfm_segments,q199_kcore")) ===
      Seq("q184_rfm_segments", "q199_kcore"))
    val e = intercept[IllegalArgumentException](
      Bench.only(Seq("b"), Some("q199_kcore,q_nope,q999_missing")))
    assert(e.getMessage.contains("q_nope, q999_missing"), e.getMessage)
    assert(!e.getMessage.contains("q199_kcore"), e.getMessage)
  }

  test("measure: a crash reads -1 and the run goes on; counts recorded; the sweep leaves no pin or memo") {
    val pinsSeen = new AtomicInteger(0)
    val queries = Bench.bind(Seq("q199_kcore"), sf("0.001")) ++ Seq[(String, SparkSession => DataFrame)](
      "injected_throw" -> (_ => throw new IllegalStateException("injected")),
      "injected_pin" -> { s =>
        val pinned = s.range(1000).toDF("id").localCheckpoint()
        pinsSeen.set(s.sparkContext.getPersistentRDDs.size)
        pinned
      })
    val records = Bench.measure(spark, queries)
    assert(records.map(_.name) === Seq("q199_kcore", "injected_throw", "injected_pin"))
    val byName = records.map(r => r.name -> r).toMap
    assert(byName("injected_throw").seconds === -1.0)
    assert(byName("injected_pin").seconds >= 0.0, "the query after the crash still runs")
    val q199 = byName("q199_kcore")
    assert(q199.seconds >= 0.0 && q199.jobs >= 1 && q199.tasks >= 1, q199.toString)
    assert(pinsSeen.get >= 1, "the injected query pinned a block")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "the sweep released every pin")
  }

  test("measure: q184 runs at most 12 jobs, and its build jobs are among them") {
    val Seq(r) = Bench.measure(spark, Bench.bind(Seq("q184_rfm_segments"), sf("0.001")))
    assert(r.seconds >= 0.0 && r.jobs <= 12, r.toString)
    assert(r.buildJobs >= 1 && r.buildJobs <= r.jobs, r.toString)
    assert(r.buildSeconds >= 0.0 && r.buildSeconds <= r.seconds, r.toString)
  }
}
