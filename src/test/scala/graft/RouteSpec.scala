package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, EventOps, Graph, Retrieval, Similarity, Stats, TextAnalysis}

/** Route.bySize evaluates a guard's input relation ONCE, whichever side
  * of the size guard runs: the driver branch collects the same pin
  * that was measured, and the distributed branch keeps reading it. The
  * input rows pass through a counting UDF, so a second evaluation (a
  * count and then a collect of the unpinned relation) reads 2× the row
  * count. Every operator with a driver fast path is checked. */
class RouteSpec extends SparkSuite {

  private val rows = 300L

  /** Runs `op` over a `rows`-row relation (`id`, 0 until rows) whose
    * every row bumps an accumulator when it is evaluated; returns how
    * many rows the operator evaluated. */
  private def evaluations(op: DataFrame => Unit): Long = {
    val acc = spark.sparkContext.longAccumulator
    val seen = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    op(spark.range(rows).select(seen(col("id")).as("id")))
    acc.value
  }

  /** Runs `body` and checks that it leaves the persisted RDDs as it
    * found them: it adds none, and a relation this test persisted
    * before it (a cached DataFrame and a persisted RDD, both still
    * referenced) is still persisted afterwards, so a branch that
    * releases more than its own pin fails. Earlier tests' unreferenced
    * pins may be cleaned meanwhile, so only the held ones are checked
    * for removal. */
  private def keepsPins[T](body: => T): T = {
    val sc = spark.sparkContext
    val outside = sc.getPersistentRDDs.keySet
    val heldDf = spark.range(4).toDF("held").persist(StorageLevel.DISK_ONLY)
    heldDf.count()
    val heldRdd = sc.parallelize(1 to 4).persist(StorageLevel.DISK_ONLY)
    heldRdd.count()
    val before = sc.getPersistentRDDs.keySet
    val held = before -- outside
    assert(held.size === 2 && held.contains(heldRdd.id))
    try {
      val r = body
      val after = sc.getPersistentRDDs.keySet
      assert((after -- before).isEmpty, "the branch left an RDD persisted")
      assert(held.subsetOf(after), "the branch released an RDD it does not own")
      r
    } finally { heldDf.unpersist(); heldRdd.unpersist() }
  }

  private def edges(in: DataFrame): DataFrame =
    in.select((col("id") % 37).as("a"), ((col("id") * 7 + 3) % 41).as("b"))

  private val eventTypes = Seq("view", "cart", "purchase", "error")
  private def events(in: DataFrame): DataFrame =
    in.select((col("id") % 7).as("user_id"),
      element_at(typedlit(eventTypes), (col("id") % 4 + 1).cast("int")).as("event_type"),
      timestamp_seconds(col("id")).as("ts"), col("id").as("event_id"))

  private def vectors(in: DataFrame): DataFrame =
    in.select(col("id").as("vid"),
      array((col("id") % 5).cast("double"), (col("id") % 7).cast("double"),
        (col("id") % 3).cast("double"), lit(1.0)).as("v"))

  /** Every other guarded operator, run to completion over the counted
    * input, with the number of times its routed relation's plan scans that
    * input: pageRank's (src, dst, outdegree) join reads the edges on
    * both of its sides, and bfsHops, connectedComponents and
    * bradleyTerry union the input with its reverse. */
  private val guards: Seq[(String, Long, DataFrame => Unit)] = Seq(
    ("triangleStats", 1, in => Graph.triangleStats(edges(in), "a", "b").collect()),
    ("pageRank", 2, in => Graph.pageRank(spark.range(41).toDF("v"), "v",
      edges(in), "a", "b", iters = 3).collect()),
    ("bfsHops", 2, in => Graph.bfsHops(edges(in), "a", "b",
      spark.range(2).toDF("s"), "s", maxHops = 4).collect()),
    ("bfsHopsPerRoot", 2, in => Graph.bfsHopsPerRoot(edges(in), "a", "b",
      spark.range(2).toDF("r"), "r", maxHops = 4).collect()),
    ("connectedComponents", 2, in =>
      Dedup.connectedComponents(edges(in), "a", "b").collect()),
    ("markovStationary", 1, in => EventOps.markovStationary(events(in),
      "user_id", "event_type", "ts", "event_id", iters = 4).collect()),
    ("markovAbsorption", 1, in => EventOps.markovAbsorption(events(in),
      "user_id", "event_type", "ts", "event_id", convert = "purchase",
      abandon = "error", iters = 4).collect()),
    ("markovTimeToAbsorb", 1, in => EventOps.markovTimeToAbsorb(events(in),
      "user_id", "event_type", "ts", "event_id",
      absorbing = Seq("purchase", "error"), iters = 4).collect()),
    ("bradleyTerry", 2, in => Stats.bradleyTerry(
      in.select(element_at(typedlit(eventTypes), (col("id") % 4 + 1).cast("int")).as("i"),
        element_at(typedlit(eventTypes), ((col("id") / 4).cast("int") % 4 + 1)).as("j"),
        (col("id") % 3 + 1).as("n")).filter(col("i") =!= col("j")),
      "i", "j", "n", iters = 3).collect()),
    ("mmrRerank", 1, in => Retrieval.mmrRerank(
      in.select((col("id") % 4).as("q"), col("id").as("d"),
        round(((col("id") * 17) % 97).cast("double") / 97.0, 6).as("rel")),
      "q", "d", "rel", vectors(spark.range(rows).toDF("id")), "vid", "v",
      k = 3).collect()),
    ("kMeans", 1, in => Similarity.kMeans(vectors(in), "vid", "v", k = 4,
      iters = 2).collect()),
    ("pqCodebooks", 1, in => Similarity.pqCodebooks(vectors(in), "vid", "v",
      m = 2, k = 4, iters = 2).collect()),
    ("bpeMerges", 1, in => TextAnalysis.bpeMerges(
      in.select(col("id").as("doc_id"),
        concat_ws(" ", lit("t"), lit("h"), (col("id") % 5).cast("string"),
          lit("t"), lit("h"), lit("e")).as("text")),
      "doc_id", "text", merges = 3).collect()))

  for (forced <- Seq(false, true)) {
    val side = if (forced) "distributed" else "driver"
    def route(n: => Long): Long = if (forced) forcedDistributed(n) else n
    // the driver branch releases its own pin once it has collected,
    // and nothing else
    def checked(n: => Long): Long = if (forced) route(n) else keepsPins(n)
    test(s"kCore and hits evaluate their edge relation once ($side branch)") {
      assert(checked(evaluations(e =>
        Graph.kCore(edges(e), "a", "b", k = 2, rounds = 8).collect())) === rows, "kCore")
      assert(checked(evaluations(e =>
        Graph.hits(edges(e), "a", "b", iters = 3).collect())) === rows, "hits")
    }
    for ((name, scans, op) <- guards)
      test(s"$name evaluates its routed input once ($side branch)") {
        assert(checked(evaluations(op)) === scans * rows, name)
      }
  }
}
