package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Runs one workload and writes `result.json` into the
  * output directory; `perfbench/run.py` builds this class, prepares the
  * inputs, checks the outputs and prints the final result line.
  *
  * {{{
  * perfbench.Main --workload <name> --kind <batch|camera> --seed <n>
  *   --seconds <s> --trace <0|1> --out <dir> --cores <n> [workload keys]
  * }}}
  */
object Main {
  /** `--key value` pairs: what run.py varies between workloads and
    * between its short build-time runs and the measured ones. */
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = double("seconds")
    def trace: Boolean = apply("trace") == "1"
    def out: String = apply("out")
    def cores: Int = int("cores")
  }

  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  /** With `--plan <file>`, runs every line of the file (one argument
    * list each) in this one JVM: the build uses it to exercise every
    * workload once while recording the class-data-sharing archive. */
  def main(argv: Array[String]): Unit = argv match {
    case Array("--plan", file) =>
      scala.io.Source.fromFile(file).getLines().filter(_.trim.nonEmpty)
        .foreach(l => runOne(parse(l.trim.split(" "))))
    case _ => runOne(parse(argv))
  }

  def runOne(a: Args): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.out))
    val trace = if (a.trace) Some(new Trace(a.cores)) else None
    val result = a("kind") match {
      case "batch" => new BatchWorkload(a, trace).run()
      case "camera" => new CameraWorkload(a, trace).run()
      case other => sys.error(s"unknown workload kind $other")
    }
    trace.foreach(_.write(s"${a.out}/spans.jsonl"))
    val host = Map("calib_s" -> Host.calibrate(), "load1" -> Host.load1(), "cores" -> a.cores)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.out}/result.json"),
      Json.obj((result + ("host" -> host)).toSeq).getBytes("UTF-8"))
  }
}

/** SparkSession set-up shared by the workloads. */
object Session {
  /** Builds a session with the program's extensions. All scratch space
    * stays inside `out`. */
  def build(a: Main.Args): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.out}/checkpoints")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since the JVM started: a run's set-up is timed from there. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

object Host {
  /** A fixed single-thread CPU job, timed as the median of five runs:
    * tells a slow host apart from a regression. */
  def calibrate(): Double = {
    def job(): Long = {
      var h = 1469598103934665603L
      var i = 0
      while (i < 20000000) { h = (h ^ i) * 1099511628211L; i += 1 }
      h
    }
    var sink = 0L
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink ^= job()
      (System.nanoTime() - t0) / 1e9
    }
    if (sink == 42) println("") // uses the result, so the loop cannot be elided
    Stats.median(times)
  }

  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** JVM-wide GC seconds and process CPU seconds so far. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result and spans files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
