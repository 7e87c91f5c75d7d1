package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Driver-run benchmark: times a full materialization of every
  * registered query at SPARK_GRAFT_SF_DIR. Its LAST stdout line is one
  * bare, total-only JSON object (the output contract a bench consumer
  * parses); `run` forks with `outputStrategy := Some(StdoutOutput)`, so
  * sbt does not prefix it.
  *
  * This object is also the one measurement harness the other mains
  * share: [[session]] (the one session builder, SPARK_GRAFT_CPUS cores,
  * default 4), [[only]] (the one SPARK_GRAFT_ONLY parser), [[sweep]]
  * (the one between-runs cache sweep) and [[measure]] (warm-up, timed
  * noop-sink run, job/stage/task counts, sweep). `Verify`, `Explain`
  * and `tools.BenchScale` build on them.
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
  *  - a listener counts the jobs started and the stages and tasks
  *    completed during each timed run; the listener bus is drained
  *    outside the timed region, before the counters are zeroed and
  *    after the run, so every count is complete;
  *  - the FINAL line is total-only (well under 2 kB) and stays inside
  *    any tail-capture window: a line that also carried the per-query
  *    map grew past 9 kB at 300 queries and overflowed the consumer's
  *    ~4.6 kB tail. The full per-query map prints on separate PRECEDING
  *    lines ("metric":"queries_part", ~1.5 kB chunks, each valid
  *    standalone JSON) and is persisted whole in BENCH_SELF.json, so a
  *    tail capture of any width keeps a parseable total and a full-log
  *    or file consumer recovers every per-query number. The per-query
  *    counts print before those, one `[bench] <query> sec= build_s= jobs=
  *    build_jobs= stages= tasks=` line per query, and BENCH_SELF.json
  *    carries them in a "counts" map of their own;
  *  - `build_s` and `build_jobs` split off the time spent, and the jobs
  *    started, while the query's function builds its DataFrame (the
  *    eager work: pins, collected bounds, schema reads). The listener
  *    bus is drained between build and run, outside the timed region.
  *
  * SPARK_GRAFT_ONLY=q184_rfm_segments,q199_kcore runs a subset (the
  * local iteration aid for chasing one query). A subset run writes
  * BENCH_SELF.json only when SPARK_GRAFT_SELF_JSON names the file, so
  * it never overwrites the committed full-run map with a partial one. */
object Bench {

  /** One query's timed run: -1 seconds marks a crash; the counts are
    * the jobs started and the stages and tasks completed while it ran.
    * `seconds` is build + run; `buildSeconds` and `buildJobs` are the
    * part spent, and the jobs started, while the query's function built
    * its DataFrame (eager pins, collected bounds, schema reads), before
    * the noop write. */
  final case class Record(name: String, seconds: Double, jobs: Long,
      stages: Long, tasks: Long, buildSeconds: Double, buildJobs: Long)

  /** The one session builder of the mains. SPARK_GRAFT_DRIVER_EDGE_LIMIT=0
    * sets the session's [[graft.operators.Route.ForceDistributedConf]]:
    * every driver fast-path guard takes its distributed branch. 0 is
    * the only value it takes; any other fails the call. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_DRIVER_EDGE_LIMIT").fold(builder) { v =>
      require(v.trim == "0", s"SPARK_GRAFT_DRIVER_EDGE_LIMIT=$v: only 0 " +
        "(force every guard onto its distributed branch) is supported")
      builder.config(graft.operators.Route.ForceDistributedConf, "true")
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries SPARK_GRAFT_ONLY names (comma-separated), in
    * sorted order, or `default` when it is unset or blank. A name that
    * is not registered fails the call, listing every unknown name, so a
    * typo stops a main before it builds a session instead of dumping or
    * timing nothing. */
  def only(default: => Seq[String] = SparkEntry.queries.keys.toSeq.sorted,
      env: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val names = env.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).distinct
    if (names.isEmpty) default
    else {
      val registered = SparkEntry.queries
      val unknown = names.filterNot(registered.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unregistered queries: ${unknown.mkString(", ")}")
      names.sorted
    }
  }

  /** The named registered queries, each bound to the data dir `sfDir`. */
  def bind(names: Seq[String], sfDir: String): Seq[(String, SparkSession => DataFrame)] = {
    val registered = SparkEntry.queries
    names.map(n => n -> ((s: SparkSession) => registered(n)(s, sfDir)))
  }

  /** Release every persisted/localCheckpointed block a query left
    * behind. Without this, checkpoint-heavy iterative queries (graph
    * tier) ran 3-6x slower inside the full bench than standalone: each
    * query's warm-up run doubled its own block population, and blocks
    * accumulated across all preceding queries, so later queries paid
    * GC/eviction pressure that has nothing to do with their plan (r9:
    * q212 34.5 s in-bench vs 5.96 s standalone). */
  def sweep(spark: SparkSession): Unit = {
    // blocking: an async unpersist defers block removal into the NEXT
    // query's timed window (measured as scattered 1.4-2x inflation on
    // sub-second queries adjacent to checkpoint-heavy ones); blocking
    // keeps the sweep's cost in the sweep
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = true)
      catch { case NonFatal(_) => () }
    }
    try spark.catalog.clearCache()
    catch { case NonFatal(_) => () }
  }

  private def run(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private final class Counts extends SparkListener {
    val jobs, stages, tasks = new AtomicLong()
    def reset(): Unit = Seq(jobs, stages, tasks).foreach(_.set(0))
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
  }

  /** Time each query in the given order: an untimed warm-up run (when
    * `warmup`), a sweep, then `trials` timed noop-sink runs, each
    * followed by a sweep; the fastest trial is the record. A query that
    * throws records -1 seconds and the next query still runs. Builds and
    * stops no session, so it runs on any live one. */
  def measure(spark: SparkSession, queries: Seq[(String, SparkSession => DataFrame)],
      warmup: Boolean = true, trials: Int = 1): Seq[Record] = {
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    def trial(name: String, fn: SparkSession => DataFrame): Record = {
      // the warm-up's and the sweep's events land before the zero
      GraftSqlBridge.waitForListeners(spark)
      counts.reset()
      var buildSeconds = -1.0
      var buildJobs = -1L
      val t0 = System.nanoTime()
      val seconds =
        try {
          val df = fn(spark)
          buildSeconds = (System.nanoTime() - t0) / 1e9
          // drain the bus so the count holds exactly the build's jobs;
          // the wait is not timed
          GraftSqlBridge.waitForListeners(spark)
          buildJobs = counts.jobs.get
          val t1 = System.nanoTime()
          run(df)
          buildSeconds + (System.nanoTime() - t1) / 1e9
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      GraftSqlBridge.waitForListeners(spark)
      sweep(spark)
      Record(name, seconds, counts.jobs.get, counts.stages.get, counts.tasks.get,
        buildSeconds, buildJobs)
    }
    try queries.map { case (name, fn) =>
      if (warmup) {
        try run(fn(spark))
        catch { case NonFatal(_) => () } // the timed run reports it
        sweep(spark)
      }
      val first = trial(name, fn)
      if (first.seconds < 0) first
      else (first +: Seq.fill(trials - 1)(trial(name, fn))).minBy(_.seconds)
    } finally spark.sparkContext.removeSparkListener(counts)
  }

  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val names = only()
    val subset = names.size < SparkEntry.queries.size
    val spark = session()
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
    // The median of five timed runs, after one untimed: a single run
    // varies by up to a quarter on a shared host.
    val calib = {
      def job(): Unit = spark.range(200000000L)
        .selectExpr("sum(xxhash64(id) % 1000000)").collect()
      job()
      val times = Seq.fill(5) {
        val t0 = System.nanoTime()
        job()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(2)
    }
    val results = measure(spark, bind(names, sfDir), warmup)
    results.foreach { r =>
      println(s"[bench] ${r.name} sec=${fmt(r.seconds)} build_s=${fmt(r.buildSeconds)} " +
        s"jobs=${r.jobs} build_jobs=${r.buildJobs} stages=${r.stages} tasks=${r.tasks}")
    }
    val entries = results.map(r => s"\"${r.name}\":${fmt(r.seconds)}")
    // per-query map first, chunked so every line is small standalone JSON
    val chunks = entries.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    val total = results.map(_.seconds).sum
    val crashed = results.count(_.seconds < 0)
    // 1-minute load average at finish: the r7/r8 driver captures were
    // load-inflated (248 s vs a clean 142.8 s re-run) — recording the
    // machine state inside the artifact lets any consumer judge
    // whether this run's numbers are trustworthy without a re-run
    val load1 =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      catch { case NonFatal(_) => "-1" }
    // output contract: the FINAL stdout line is total-only JSON; the
    // per-query numbers are in the queries_part lines above and in
    // BENCH_SELF.json below
    val head = s""""metric":"total","unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_crashed":$crashed,"load1":$load1,"calib_sec":${fmt(calib)},"value":${fmt(total)}"""
    // the stdout tail-capture has lost the per-query map three rounds
    // running (it scrolls out of the consumer's window at 190+
    // queries), so ALSO persist the complete map as a committed
    // artifact next to the build — no capture window can lose a file
    val selfJson = sys.env.get("SPARK_GRAFT_SELF_JSON")
      .orElse(if (subset) None else Some("BENCH_SELF.json"))
    selfJson.foreach { path =>
      try {
        val counts = results.map { r =>
          s""""${r.name}":{"jobs":${r.jobs},"build_jobs":${r.buildJobs},"build_s":${fmt(r.buildSeconds)},"stages":${r.stages},"tasks":${r.tasks}}"""
        }
        val self = s"""{$head,"queries":${entries.mkString("{", ",", "}")},"counts":${counts.mkString("{", ",", "}")}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(path), (self + "\n").getBytes("UTF-8"))
      } catch { case NonFatal(e) => System.err.println(s"[bench] self-persist failed: ${e.getMessage}") }
    }
    // printed after the stop, so nothing the shutdown writes can follow it
    try spark.stop() finally println(s"{$head}")
  }
}
