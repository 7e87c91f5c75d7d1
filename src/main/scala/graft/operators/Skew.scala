package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Skew-mitigation operators (SURVEY.md §4 / task brief: "salting for
  * skew, AQE for runtime re-plan").
  *
  * AQE's skew-join splitting is enabled by default and handles join
  * skew; these helpers cover the aggregation side: a hot grouping key
  * that would funnel into one reducer is first spread over
  * `buckets` salted sub-keys (partial aggregate), then combined
  * (final aggregate). Because the partial aggregates accumulate as
  * exact DECIMAL, the two-phase rewrite is bit-identical to the direct
  * aggregation — provable against the plain-SQL oracle.
  */
object Skew {

  /** Per-row salt from a content hash — deterministic under task retry
    * and partial recompute. monotonically_increasing_id/rand here would
    * be the SPARK-23207 failure class: a recomputed map task could
    * re-salt rows differently from the outputs surviving reducers
    * already fetched, double-counting or dropping them. Rows with
    * identical (keys, value) content share a bucket; skew spreading
    * still holds whenever values vary within hot keys. */
  private def salt(content: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(content: _*), lit(buckets.toLong))

  /** Salted exact money-sum + count per key: partial aggregate on
    * (keys, salt), final on keys. Output: keys, <alias>, n_rows. */
  def saltedMoneySum(df: DataFrame, keyCols: Seq[String], valueExpr: Column,
      alias: String, buckets: Int = 16): DataFrame = {
    val keys = keyCols.map(col)
    val partial = df
      .withColumn("_salt", salt(keys :+ valueExpr, buckets))
      .groupBy(keys :+ col("_salt"): _*)
      .agg(sum(valueExpr.cast(DecimalType(27, 6))).as("_psum"),
           count(lit(1)).as("_pcnt"))
    partial.groupBy(keys: _*)
      .agg(sum(col("_psum")).cast("double").as(alias),
           sum(col("_pcnt")).cast("long").as("n_rows"))
  }

  /** Salted equi-join for a skewed fact key — the manual form of AQE's
    * skew-join split, usable when the skew is known up front (and on
    * streaming joins, where AQE can't replan): the fact side salts on
    * content hash (same retry-safe derivation as [[saltedMoneySum]] —
    * never rand()), the dimension side replicates each row across all
    * `buckets` salts, and the join key becomes (key, salt) — a hot key
    * spreads over `buckets` reducers instead of melting one. The
    * output is EXACTLY the unsalted join (each fact row meets exactly
    * the one dim replica carrying its salt); the cost is dim×buckets
    * replication, the standard trade. */
  def saltedJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, saltContent: Seq[String], buckets: Int = 16): DataFrame = {
    val f = fact.withColumn("_salt",
      salt(saltContent.map(col), buckets).cast("int"))
    val dRep = dim.withColumn("_dsalt",
      explode(sequence(lit(0), lit(buckets - 1))))
    f.join(dRep, f("_salt") === dRep("_dsalt") &&
        col(factKey) === col(dimKey))
      .drop("_salt", "_dsalt")
  }

  /** GLOBAL ranking without a window — the distributed form of an
    * unpartitioned `row_number()/ntile()/sum() over (order by …)`
    * window, which WindowExec runs by moving the whole relation to ONE
    * partition (a serialization point that grows with the corpus).
    * One pinned pass: range-partition on the total order, sort within
    * partitions, localCheckpoint; the job that materializes the pin
    * also counts each partition. A row's rank is its partition's
    * offset (a literal indexed by `spark_partition_id()`) plus its
    * index within its sorted pinned partition — EXACTLY row_number
    * over the unpartitioned window, because `order` must be a UNIQUE
    * total order (callers append a tiebreak id, as the window needed
    * for determinism). Output: the input columns plus `_rank`
    * (1-based) and `_n` (total rows). For each (name, expr) in
    * `prefixSums` (DECIMAL or integral), a running inclusive sum
    * `name` and its grand total `_tot_name`, both of `sum`'s result
    * type: a `_pid`-partitioned running window plus the partition's
    * offset from the collected per-partition totals (exact addition is
    * associative). `_n` and `_tot_name` are literals. To rank one
    * relation on several orders, [[rangedRanks]] does it in ONE pass. */
  def rangedRank(df: DataFrame, order: Seq[Column],
      prefixSums: Seq[(String, Column)] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    // the pin is CORRECTNESS: the range bounds are sampled, so the
    // counts and every rank must read ONE partitioning. Tiny inputs
    // may yield fewer than p partitions; an empty one counts 0.
    val (pinned, counts) = org.apache.spark.sql.GraftSqlBridge
      .localCheckpointCounted(df.repartitionByRange(p, order: _*)
        .sortWithinPartitions(order: _*))
    val offs = counts.scanLeft(0L)(_ + _)
    val pid = spark_partition_id()
    // monotonically_increasing_id() is (pid << 33) + the row's index in
    // its partition; this projection sits directly over the pin (no
    // exchange between), so that index is its place in the sorted pin
    val shift = typedLit(offs.toSeq.zipWithIndex.map { case (o, i) =>
      o + 1L - (i.toLong << 33) })
    val ranked = pinned
      .withColumn("_rank", monotonically_increasing_id() + shift(pid))
      .withColumn("_n", lit(offs.last))
    if (prefixSums.isEmpty) return ranked
    val tots = pinned.groupBy(pid)
      .agg(sum(prefixSums.head._2), prefixSums.tail.map(ps => sum(ps._2)): _*)
    val byPid = tots.collect().map(r => r.getInt(0) -> r).toMap
    val wRun = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prefixSums.zipWithIndex.foldLeft(ranked.withColumn("_pid", pid)) {
      case (d, ((nm, c), j)) =>
        val dt = tots.schema(j + 1).dataType
        require(dt.isInstanceOf[DecimalType] || dt == LongType,
          s"rangedRank: prefix sum $nm must be DECIMAL or integral")
        // sum's skip-nulls semantics: null until a non-null is seen
        val cum = counts.indices.map(i => byPid.get(i).map(_.get(j + 1)).orNull)
          .scanLeft(null: Any) {
            case (null, v) => v
            case (a, null) => a
            case (a: java.math.BigDecimal, v: java.math.BigDecimal) => a.add(v)
            case (a: Long, v: Long) => a + v
          }
        val off = array(cum.map(v => lit(v).cast(dt)): _*)(col("_pid"))
        val run = col(s"_l_$nm")
        d.withColumn(s"_l_$nm", sum(c).over(wRun))
          .withColumn(nm, coalesce((off + run).cast(dt), off, run))
          .withColumn(s"_tot_$nm", lit(cum.last).cast(dt))
          .drop(s"_l_$nm")
    }.drop("_pid")
  }

  /** Several global rankings of one relation from ONE [[rangedRank]]
    * pass, in place of one pinned pass per order. Each row is copied
    * once per order, tagged `_tag` = 0..k-1, and the copies are ranked
    * together on `_tag` followed by every order's columns, each wrapped
    * as `when(_tag === i, c)` (direction and null ordering kept): within
    * tag i the other orders' columns are a constant null, so tag i sorts
    * on order i alone, and since every tag holds exactly n rows, tag i
    * holds the global ranks i·n+1 … (i+1)·n. A groupBy on `key` (which
    * must be unique per row) folds the copies back into one row, over a
    * range partitioning of `key`, so that a later sort on `key` (as
    * q184's) needs no exchange of its own. Each
    * `orders(i)` must be a UNIQUE total order, as for [[rangedRank]].
    * Output: the input columns, `_rank_0` … `_rank_<k-1>` (1-based, each
    * exactly row_number over its own unpartitioned window) and `_n`. */
  def rangedRanks(df: DataFrame, key: String,
      orders: Seq[Seq[Column]]): DataFrame = {
    val k = orders.size
    require(k > 0, "rangedRanks: no order")
    val tag = col("_tag")
    val order = tag +: orders.zipWithIndex.flatMap { case (o, i) =>
      o.map(org.apache.spark.sql.GraftSqlBridge.mapSortKey(_, when(tag === i, _)))
    }
    val ranked = rangedRank(
      df.withColumn("_tag", explode(sequence(lit(0), lit(k - 1)))), order)
    // every tag holds the same n rows, so `_n` counts k·n exactly
    val n = expr(s"_n div $k")
    val ranks = (0 until k).map(i => s"_rank_$i")
    val aggs = df.columns.filter(_ != key).map(c => first(col(c)).as(c)) ++
      ranks.zipWithIndex.map { case (r, i) => max(when(tag === i, col("_rank") - n * i)).as(r) }
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    ranked.repartitionByRange(p, col(key))
      .groupBy(col(key), n.as("_n")).agg(aggs.head, aggs.tail: _*)
      .select((df.columns ++ ranks :+ "_n").map(col): _*)
  }

  /** `ntile(k)` reconstructed from a [[rangedRank]] global rank and
    * total row count — Spark's NTile semantics exactly: with n rows,
    * base = n/k and rem = n%k, the first rem buckets hold base+1 rows
    * and the rest base. Pure per-row arithmetic, no window. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // Spark's `/` on longs is DOUBLE division — every quotient here is
    // floor-divided explicitly. Exact for n < 2^53 (the double-exact
    // integer range; ranks beyond that are not a realistic relation).
    val kL = lit(k.toLong)
    val rem = n % kL
    val base = ((n - rem) / kL).cast("long") // exactly divisible
    val cut = rem * (base + lit(1L))
    when(rank <= cut,
      floor((rank - lit(1L)) / (base + lit(1L))).cast("long") + lit(1L))
      .otherwise(rem + floor((rank - lit(1L) - cut) /
        when(base === lit(0L), lit(1L)).otherwise(base)).cast("long") +
        lit(1L))
      .cast("int")
  }
}
