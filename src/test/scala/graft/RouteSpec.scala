package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Route.bySize evaluates a guard's input relation ONCE, whichever side
  * of the size guard runs: the driver branch collects the same pin
  * that was counted, and the distributed branch keeps reading it. The
  * input rows pass through a counting UDF, so a second evaluation (a
  * count and then a collect of the unpinned relation) reads 2× the row
  * count. */
class RouteSpec extends SparkSuite {

  private val rows = 300L

  /** Runs `op` over an edge relation whose every input row bumps an
    * accumulator; returns how many rows the operator evaluated. */
  private def evaluations(op: org.apache.spark.sql.DataFrame => Unit): Long = {
    val acc = spark.sparkContext.longAccumulator
    val seen = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    val edges = spark.range(rows).select(seen(col("id")).as("id"))
      .select((col("id") % 37).as("a"), ((col("id") * 7 + 3) % 41).as("b"))
    op(edges)
    acc.value
  }

  for (limit <- Seq(1L << 22, 0L)) {
    val side = if (limit > 0) "driver" else "distributed"
    test(s"kCore and hits evaluate their edge relation once ($side branch)") {
      val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
      assert(evaluations(e =>
        Graph.kCore(e, "a", "b", k = 2, rounds = 8, driverEdgeLimit = limit)
          .collect()) === rows, "kCore")
      assert(evaluations(e =>
        Graph.hits(e, "a", "b", iters = 3, driverEdgeLimit = limit)
          .collect()) === rows, "hits")
      // the driver branch releases its pin once it has collected
      if (limit > 0)
        assert(spark.sparkContext.getPersistentRDDs.keySet === pinsBefore)
    }
  }
}
