package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times a full materialization of every
  * registered query at SPARK_GRAFT_SF_DIR. Its LAST stdout line is one
  * bare, total-only JSON object (the output contract a bench consumer
  * parses); `run` forks with `outputStrategy := Some(StdoutOutput)`, so
  * sbt does not prefix it.
  *
  * Methodology (kills the cross-round comparison noise the round-3
  * verdict flagged):
  *  - the timed action is a NOOP-SINK WRITE, not count(): count()
  *    lets Catalyst column-prune and join-eliminate entire subtrees
  *    (a per-doc aggregate left-joined back to the corpus collapses
  *    to count(corpus) — the span-dedup apply query measured 0.2 s at
  *    100× corpus scale, i.e. nothing). The noop sink consumes every
  *    output column, so projection- and join-terminal queries pay
  *    their real cost;
  *  - queries run in FIXED SORTED ORDER — hash-map order moved
  *    sub-second queries around between rounds, which alone produced
  *    up to 8× apparent wobble on them;
  *  - each query runs once UNTIMED immediately before its timed run,
  *    so JIT/codegen/classloader and file-cache warm-up land in the
  *    warm-up, not the measurement (set SPARK_GRAFT_WARMUP=0 to skip);
  *  - the FINAL line is total-only (well under 2 kB) and stays inside
  *    any tail-capture window: a line that also carried the per-query
  *    map grew past 9 kB at 300 queries and overflowed the consumer's
  *    ~4.6 kB tail. The full per-query map prints on separate PRECEDING
  *    lines ("metric":"queries_part", ~1.5 kB chunks, each valid
  *    standalone JSON) and is persisted whole in BENCH_SELF.json, so a
  *    tail capture of any width keeps a parseable total and a full-log
  *    or file consumer recovers every per-query number. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // global warm-up: exercise scan, shuffle, and codegen paths once
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.region(spark, sfDir).groupBy("r_name").count().collect()
    // host-speed calibration: a fixed CPU-bound job (hash 200M longs,
    // all cores), timed after warm-up. Cross-round totals have swung
    // >2× purely on host/VM speed (r9: an identical harness measured
    // 98 s one day and 214 s another, uniformly across queries);
    // recording a reference workload inside the artifact lets any
    // consumer normalize before comparing rounds.
    // (the % bounds the ANSI long sum: full-range hash values overflow)
    val calib = {
      def job(): Unit = spark.range(200000000L)
        .selectExpr("sum(xxhash64(id) % 1000000)").collect()
      job()
      val t0 = System.nanoTime()
      job()
      (System.nanoTime() - t0) / 1e9
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // Release every persisted/localCheckpointed block a query left
    // behind. Without this, checkpoint-heavy iterative queries (graph
    // tier) ran 3-6x slower inside the full bench than standalone:
    // each query's warm-up run doubled its own block population, and
    // blocks accumulated across all preceding queries, so later
    // queries paid GC/eviction pressure that has nothing to do with
    // their plan (r9: q212 34.5 s in-bench vs 5.96 s standalone).
    def releaseCaches(): Unit = {
      // blocking: an async unpersist defers block removal into the
      // NEXT query's timed window (measured as scattered 1.4-2x
      // inflation on sub-second queries adjacent to checkpoint-heavy
      // ones); blocking keeps the sweep's cost in the sweep
      spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
        try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () }
      }
      try spark.catalog.clearCache()
      catch { case _: Throwable => () }
      // drop driver-memoized audit baselines too: a timed run must
      // compute every relation from the parquet inputs, never replay a
      // result its warmup (or a sibling audit) computed
      graft.queries.AuditCache.clear()
    }
    // a crashing query reports -1 seconds (visible failure marker)
    // instead of a spuriously-fast timing
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (warmup) {
        try run(fn(spark, sfDir))
        catch { case _: Throwable => () } // the timed run reports it
        releaseCaches()
      }
      val t0 = System.nanoTime()
      try {
        run(fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        releaseCaches()
        name -> dt
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          releaseCaches()
          name -> -1.0
      }
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val entries = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
    // per-query map first, chunked so every line is small standalone JSON
    val chunks = entries.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    val total = results.map(_._2).sum
    val crashed = results.count(_._2 < 0)
    // 1-minute load average at finish: the r7/r8 driver captures were
    // load-inflated (248 s vs a clean 142.8 s re-run) — recording the
    // machine state inside the artifact lets any consumer judge
    // whether this run's numbers are trustworthy without a re-run
    val load1 =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      catch { case _: Throwable => "-1" }
    // output contract: the FINAL stdout line is total-only JSON; the
    // per-query numbers are in the queries_part lines above and in
    // BENCH_SELF.json below
    val head = s""""metric":"total","unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_crashed":$crashed,"load1":$load1,"calib_sec":${fmt(calib)},"value":${fmt(total)}"""
    // the stdout tail-capture has lost the per-query map three rounds
    // running (it scrolls out of the consumer's window at 190+
    // queries), so ALSO persist the complete map as a committed
    // artifact next to the build — no capture window can lose a file
    try {
      val self = s"""{$head,"queries":${entries.mkString("{", ",", "}")}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_SELF_JSON", "BENCH_SELF.json")),
        (self + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] self-persist failed: ${e.getMessage}") }
    // printed after the stop, so nothing the shutdown writes can follow it
    try spark.stop() finally println(s"{$head}")
  }
}
