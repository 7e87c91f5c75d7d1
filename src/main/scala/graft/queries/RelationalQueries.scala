package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.Tables.{moneySum, sqlMoneySum}

/** The relational operator floor (SURVEY.md §2.6–§2.10 [absent] rows):
  * scans, filters, projections, equi/semi/anti joins, hash aggregation,
  * distinct, rollup/cube, window functions, top-k, set ops, string/date
  * scalar functions. All pure Catalyst built-ins — predicate pushdown,
  * column pruning, broadcast selection and whole-stage codegen come for
  * free; at cluster scale the only shuffles are the group-by/join keys.
  *
  * Each query is paired with a DuckDB oracle (driver contract). Every
  * computed column is aliased identically on both sides and every query
  * ends in a total ORDER BY so the parquet dump is deterministic.
  */
object RelationalQueries {

  def all: Seq[(String, Q)] = Seq(

    // ---- q01: full-scan hash aggregation (TPC-H Q1 shape) -------------
    "q01_pricing_summary" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("2000-06-30").cast("timestamp"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            moneySum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_base_price"),
            moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""
        SELECT l_returnflag, l_linestatus,
          ${sqlMoneySum("l_quantity")} AS sum_qty,
          ${sqlMoneySum("l_extendedprice")} AS sum_base_price,
          ${sqlMoneySum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
          ${sqlMoneySum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
          ${sqlMoneySum("l_quantity")} / COUNT(*) AS avg_qty,
          ${sqlMoneySum("l_extendedprice")} / COUNT(*) AS avg_price,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-06-30'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      "Hash agg over full lineitem scan; filter pushed to parquet."),

    // ---- q02: selective filter, fully pushed down (TPC-H Q6 shape) ----
    "q02_revenue_filter" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
                col("l_discount").between(0.03, 0.07) &&
                col("l_quantity") < 24)
        .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
             count(lit(1)).as("n_rows")),
      Some(s"""
        SELECT ${sqlMoneySum("l_extendedprice * l_discount")} AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24"""),
      "Single-row aggregate; predicates all land in PushedFilters."),

    // ---- q03: 3-way join + agg by segment (TPC-H Q3 shape) ------------
    "q03_segment_revenue" -> Q(
      (s, d) => {
        val c  = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        val o  = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
               countDistinct(col("o_orderkey")).as("n_orders"),
               count(lit(1)).as("n_items"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        SELECT c_mktsegment,
          ${sqlMoneySum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
          COUNT(DISTINCT o_orderkey) AS n_orders,
          COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment"""),
      "Fact-fact shuffle join + broadcast dim; customer is broadcast."),

    // ---- q04: snowflake join rollup to nation (TPC-H Q5 shape) --------
    "q04_nation_revenue" -> Q(
      (s, d) => {
        val r = Tables.region(s, d)
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val o = Tables.orders(s, d).select("o_custkey", "o_totalprice")
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(moneySum(col("o_totalprice")).as("revenue"),
               count(lit(1)).as("n_orders"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""
        SELECT r_name, n_name,
          ${sqlMoneySum("o_totalprice")} AS revenue,
          COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name"""),
      "Snowflake joins: region/nation broadcast, orders⋈customer shuffle."),

    // ---- q05: top-k by aggregate ---------------------------------------
    "q05_top_customers" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d).select("c_custkey", "c_name")
        o.groupBy(col("o_custkey"))
          .agg(moneySum(col("o_totalprice")).as("spend"),
               count(lit(1)).as("n_orders"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("spend"), col("n_orders"))
          .orderBy(col("spend").desc, col("c_custkey"))
          .limit(10)
      },
      Some(s"""
        SELECT c_custkey, c_name, spend, n_orders FROM (
          SELECT o_custkey,
            ${sqlMoneySum("o_totalprice")} AS spend,
            COUNT(*) AS n_orders
          FROM orders GROUP BY o_custkey
        ) JOIN customer ON o_custkey = c_custkey
        ORDER BY spend DESC, c_custkey
        LIMIT 10"""),
      "Agg→join→global top-k; Spark plans TakeOrderedAndProject."),

    // ---- q06: ranking window function ----------------------------------
    "q06_latest_orders_ranked" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"),
                  date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od, rn
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
        WHERE rn <= 2
        ORDER BY o_custkey, rn"""),
      "row_number over partitioned window; single shuffle on o_custkey."),

    // ---- q07: running totals + lag -------------------------------------
    "q07_running_spend" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("running_spend",
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .withColumn("delta",
            col("o_totalprice") - lag(col("o_totalprice"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("running_spend"), col("delta"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
          o_totalprice - LAG(o_totalprice, 1) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      "Cumulative frame + lag in one window; exact decimal accumulation."),

    // ---- q37: RANGE window frame ----------------------------------------
    "q37_range_frame" -> Q(
      (s, d) => {
        val days = datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        val w = Window.partitionBy(col("o_custkey")).orderBy("od_days")
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("od_days", days)
          .withColumn("spend_30d",
            sum(col("o_totalprice").cast(DecimalType(27, 6))).over(w).cast("double"))
          .withColumn("n_30d", count(lit(1)).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("od_days"),
                  col("spend_30d"), col("n_30d"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS od_days,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER (
            PARTITION BY o_custkey
            ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d,
          COUNT(*) OVER (
            PARTITION BY o_custkey
            ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_30d
        FROM orders
        ORDER BY o_custkey, o_orderkey"""),
      "RANGE frame: trailing-30-day spend per customer (value-based frame)."),

    // ---- q38: navigation window functions --------------------------------
    "q38_window_navigation" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .withColumn("first_price", first(col("o_totalprice")).over(wFull))
          .withColumn("last_price", last(col("o_totalprice")).over(wFull))
          .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
          .withColumn("nth2_price", nth_value(col("o_totalprice"), 2).over(wFull))
          .select(col("o_custkey"), col("o_orderkey"), col("first_price"),
                  col("last_price"), col("next_price"), col("nth2_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          FIRST_VALUE(o_totalprice) OVER w2 AS first_price,
          LAST_VALUE(o_totalprice) OVER w2 AS last_price,
          LEAD(o_totalprice, 1) OVER w1 AS next_price,
          NTH_VALUE(o_totalprice, 2) OVER w2 AS nth2_price
        FROM orders
        WINDOW
          w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey"""),
      "first/last/lead/nth_value navigation over per-customer windows."),

    // ---- q08: distinct aggregation -------------------------------------
    "q08_distinct_customers" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
             countDistinct(col("o_orderpriority")).as("n_priorities"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus")),
      Some("""
        SELECT o_orderstatus,
          COUNT(DISTINCT o_custkey) AS n_customers,
          COUNT(DISTINCT o_orderpriority) AS n_priorities,
          COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus"""),
      "Multi-column distinct agg (expand + two-phase in Spark)."),

    // ---- q09: rollup ----------------------------------------------------
    "q09_rollup_lineitem" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")),
      Some(s"""
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               COUNT(*) AS n,
               ${sqlMoneySum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls"""),
      "Hierarchical subtotals; COALESCE dodges NULL-ordering divergence."),

    // ---- q10: cube ------------------------------------------------------
    "q10_cube_orders" -> Q(
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
                col("n"), col("total"))
        .orderBy(col("status"), col("priority")),
      Some(s"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               ${sqlMoneySum("o_totalprice")} AS total
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority"""),
      "Full cube over two dims."),

    // ---- q11: semi join -------------------------------------------------
    "q11_semi_join" -> Q(
      (s, d) => {
        val openOrders = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "O").select("o_custkey")
        Tables.customer(s, d)
          .join(openOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        ORDER BY c_custkey"""),
      "EXISTS as left_semi; no row duplication, build side deduped."),

    // ---- q12: anti join -------------------------------------------------
    "q12_anti_join" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey"""),
      "NOT EXISTS as left_anti (customers without orders)."),

    // ---- q13: set operations -------------------------------------------
    "q13_set_ops" -> Q(
      (s, d) => {
        val cn = Tables.customer(s, d).select(col("c_nationkey").as("nkey")).distinct()
        val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nkey")).distinct()
        cn.intersect(sn).withColumn("tag", lit("both"))
          .unionByName(cn.except(sn).withColumn("tag", lit("customer_only")))
          .unionByName(sn.except(cn).withColumn("tag", lit("supplier_only")))
          .select(col("tag"), col("nkey"))
          .orderBy(col("tag"), col("nkey"))
      },
      Some("""
        WITH cn AS (SELECT DISTINCT c_nationkey AS nkey FROM customer),
             sn AS (SELECT DISTINCT s_nationkey AS nkey FROM supplier)
        SELECT 'both' AS tag, nkey FROM (SELECT nkey FROM cn INTERSECT SELECT nkey FROM sn)
        UNION ALL
        SELECT 'customer_only' AS tag, nkey FROM (SELECT nkey FROM cn EXCEPT SELECT nkey FROM sn)
        UNION ALL
        SELECT 'supplier_only' AS tag, nkey FROM (SELECT nkey FROM sn EXCEPT SELECT nkey FROM cn)
        ORDER BY tag, nkey"""),
      "INTERSECT/EXCEPT/UNION with set (distinct) semantics."),

    // ---- q14: string scalar functions ----------------------------------
    "q14_string_funcs" -> Q(
      (s, d) => Tables.part(s, d)
        .select(
          col("p_partkey"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).cast("int").as("brand_num"),
          initcap(element_at(split(col("p_name"), " "), 1)).as("first_word_cap"),
          concat_ws("/", col("p_brand"), col("p_type")).as("type_key"),
          length(col("p_name")).as("name_len"),
          instr(col("p_name"), "a").as("pos_a"),
          format_string("%s#%04d", col("p_type"), col("p_partkey")).as("fmt_key"),
          graft.functions.TextFunctions.labelFromFilename(
            concat_ws("", col("p_name"), lit(".jpg"))).as("face_label"))
        .orderBy(col("p_partkey")),
      Some("""
        SELECT p_partkey,
          CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
          upper(substr(string_split(p_name, ' ')[1], 1, 1))
            || substr(string_split(p_name, ' ')[1], 2) AS first_word_cap,
          p_brand || '/' || p_type AS type_key,
          CAST(length(p_name) AS INT) AS name_len,
          CAST(instr(p_name, 'a') AS INT) AS pos_a,
          printf('%s#%04d', p_type, p_partkey) AS fmt_key,
          array_to_string(list_transform(
            string_split(regexp_extract(p_name || '.jpg', '^([^._]+)', 1), ' '),
            w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ') AS face_label
        FROM part
        ORDER BY p_partkey"""),
      "regexp_extract / initcap / concat_ws / length / instr projection."),

    // ---- q15: conditional aggregation ----------------------------------
    "q15_conditional_agg" -> Q(
      (s, d) => {
        val n = Tables.nation(s, d)
        Tables.customer(s, d)
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(when(col("c_acctbal") > 0, 1).otherwise(0)).cast("long").as("n_pos"),
            count(lit(1)).as("n_total"),
            (sum(when(col("c_acctbal") > 0, 1).otherwise(0)).cast("double") /
              count(lit(1))).as("pos_share"),
            moneySum(when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(0.0)).as("pos_bal_sum"))
          .orderBy(col("n_name"))
      },
      Some(s"""
        SELECT n_name,
          CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          COUNT(*) AS n_total,
          CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pos_share,
          ${sqlMoneySum("CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END")} AS pos_bal_sum
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name"""),
      "CASE-gated sums; share is one exact int/int division."),

    // ---- q26: math scalar functions --------------------------------------
    "q26_math_funcs" -> Q(
      (s, d) => Tables.part(s, d)
        .select(
          col("p_partkey"),
          sqrt(col("p_retailprice")).as("sqrt_price"),
          floor(col("p_retailprice")).cast("long").as("floor_price"),
          ceil(col("p_retailprice")).cast("long").as("ceil_price"),
          round(col("p_retailprice"), 4).as("round_price"),
          pow(col("p_size").cast("double"), 2.0).as("size_sq"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          abs(col("p_size") - 25).as("size_dev"),
          pmod(col("p_partkey"), lit(7)).as("key_mod"))
        .orderBy(col("p_partkey")),
      Some("""
        SELECT p_partkey,
          sqrt(p_retailprice) AS sqrt_price,
          CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
          CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
          round(p_retailprice, 4) AS round_price,
          pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
          round(ln(p_retailprice), 6) AS ln_price,
          CAST(abs(p_size - 25) AS INT) AS size_dev,
          CAST(p_partkey % 7 AS BIGINT) AS key_mod
        FROM part
        ORDER BY p_partkey"""),
      "Math scalar surface: sqrt/floor/ceil/round/pow/ln/abs/mod " +
        "(ln rounded: last-ulp libm divergence)."),

    // ---- q27: GROUPING SETS via the SQL API ------------------------------
    "q27_grouping_sets" -> Q(
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                 COALESCE(o_orderpriority, 'ALL') AS priority,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
          FROM orders_v
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY status, priority""")
      },
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority"""),
      "Explicit grouping sets through spark.sql (SQL API surface)."),

    // ---- q28: salted (skew-safe) aggregation ------------------------------
    "q28_salted_agg" -> Q(
      (s, d) => graft.operators.Skew.saltedMoneySum(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          alias = "revenue", buckets = 16)
        .orderBy(col("l_returnflag")),
      Some(s"""
        SELECT l_returnflag,
               ${sqlMoneySum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
      "Two-phase salted aggregation; exact-decimal partials make the " +
        "skew rewrite bit-identical to the direct GROUP BY oracle."),

    // ---- q16: date/time scalar functions --------------------------------
    "q16_date_breakdown" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"),
                 quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n"),
             moneySum(col("o_totalprice")).as("revenue"),
             date_format(min(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("first_day"),
             date_format(max(col("o_orderdate").cast("date")), "yyyy-MM-dd").as("last_day"),
             datediff(max(col("o_orderdate").cast("date")),
                      min(col("o_orderdate").cast("date"))).as("span_days"))
        .orderBy(col("y"), col("q")),
      Some(s"""
        SELECT CAST(year(o_orderdate) AS INT) AS y,
               CAST(quarter(o_orderdate) AS INT) AS q,
               COUNT(*) AS n,
               ${sqlMoneySum("o_totalprice")} AS revenue,
               strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_day,
               strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_day,
               CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                              MAX(CAST(o_orderdate AS DATE))) AS INT) AS span_days
        FROM orders
        GROUP BY 1, 2
        ORDER BY y, q"""),
      "year/quarter grouping + datediff; timestamps cast to DATE."),

    // ---- q65: full outer join -------------------------------------------
    "q65_full_outer" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        def perDay(prio: String, alias: String) =
          o.filter(col("o_orderpriority") === prio)
            .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as(s"d_$alias"))
            .agg(count(lit(1)).as(s"n_$alias"))
        perDay("1-URGENT", "urgent")
          .join(perDay("5-LOW", "low"), col("d_urgent") === col("d_low"), "full_outer")
          .select(coalesce(col("d_urgent"), col("d_low")).as("odate"),
            coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
            coalesce(col("n_low"), lit(0L)).as("n_low"))
          .orderBy(col("odate"))
      },
      Some("""
        WITH a AS (
          SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d_urgent,
                 COUNT(*) AS n_urgent
          FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        ), b AS (
          SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d_low,
                 COUNT(*) AS n_low
          FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1
        )
        SELECT COALESCE(d_urgent, d_low) AS odate,
               COALESCE(n_urgent, 0) AS n_urgent,
               COALESCE(n_low, 0) AS n_low
        FROM a FULL OUTER JOIN b ON d_urgent = d_low
        ORDER BY odate"""),
      "Full outer join with unmatched rows on BOTH sides (sparse daily " +
        "priority counts) + coalesce defaults."),

    // ---- q66: correlated scalar subquery --------------------------------
    "q66_correlated_subquery" -> Q(
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_v")
        // decimal-accumulated mean (Tables.moneyAvg in SQL form): a raw
        // AVG over doubles is partial-agg-order-dependent, and here it
        // DECIDES row membership — a balance within float noise of its
        // nation's mean could flip across engines/runs
        s.sql("""
          SELECT c_custkey, c_nationkey, c_acctbal
          FROM customer_v c1
          WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
            FROM customer_v c2 WHERE c2.c_nationkey = c1.c_nationkey)
          ORDER BY c_custkey""")
      },
      Some("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer c1
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
          FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey"""),
      "Correlated scalar subquery through spark.sql — Catalyst " +
        "decorrelates it into an aggregate + join; the threshold uses " +
        "the decimal-exact mean so membership is engine-portable."),

    // ---- q119: exact grouped quantiles, no global sort -------------------
    "q119_exact_quantiles" -> Q(
      (s, d) => graft.operators.Sketches.exactQuantiles(
          Tables.lineitem(s, d), "l_returnflag", "l_quantity",
          qs = Seq(0.5, 0.9, 0.99))
        .orderBy(col("l_returnflag"), col("q")),
      Some("""
        WITH f AS (
          SELECT l_returnflag AS g, l_quantity AS v, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2
        ), c AS (
          SELECT g, v, cnt,
                 SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                 SUM(cnt) OVER (PARTITION BY g) AS n
          FROM f
        ), qv AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        SELECT g AS l_returnflag, q, v AS quantile_disc
        FROM c CROSS JOIN qv
        WHERE cum >= greatest(ceil(q * n), 1)
          AND cum - cnt < greatest(ceil(q * n), 1)
        ORDER BY l_returnflag, q"""),
      "Exact PERCENTILE_DISC per group with NO global sort: a bounded " +
        "(group, value) frequency table is the only corpus shuffle " +
        "(map-side combined — one row per distinct value whatever the " +
        "row count); selection runs over that bounded relation. The " +
        "exact companion of q83's histogram quantiles for discrete " +
        "domains."),

    // ---- q125: sketch join-size estimation --------------------------------
    "q125_cms_joinsize" -> Q(
      (s, d) => graft.operators.Sketches.cmsJoinSize(
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", w = 256, d = 4),
      Some("""
        WITH ca AS (
          SELECT i.range AS row, (h1 + i.range * h2) % 256 AS pos,
                 COUNT(*) AS ca
          FROM (SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
                FROM orders), range(0, 4) i
          GROUP BY 1, 2
        ), cb AS (
          SELECT i.range AS row, (h1 + i.range * h2) % 256 AS pos,
                 COUNT(*) AS cb
          FROM (SELECT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
                       CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
                FROM customer), range(0, 4) i
          GROUP BY 1, 2
        ), ip AS (
          SELECT r.range AS row,
                 COALESCE((SELECT SUM(ca.ca * cb.cb) FROM ca JOIN cb
                           ON ca.row = cb.row AND ca.pos = cb.pos
                           WHERE ca.row = r.range), 0) AS ip
          FROM range(0, 4) r
        ), est AS (
          SELECT CAST(MIN(ip) AS BIGINT) AS cms_join_estimate FROM ip
        ), ex AS (
          SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS exact_join_size
          FROM (SELECT o_custkey AS v, COUNT(*) AS na FROM orders GROUP BY 1) fa
          JOIN (SELECT c_custkey AS v, COUNT(*) AS nb FROM customer GROUP BY 1) fb
          USING (v)
        )
        SELECT 256 AS w, 4 AS d, cms_join_estimate, exact_join_size,
               round(CAST(cms_join_estimate - exact_join_size AS DOUBLE) /
                 CAST(greatest(exact_join_size, 1) AS DOUBLE), 6) AS rel_overcount
        FROM est CROSS JOIN ex"""),
      "Sketch join-size estimation (AGMS/count-min inner product): " +
        "|A JOIN B| estimated from two one-pass d*w sketches that never " +
        "meet in a shuffle — the pre-join cardinality signal a planner " +
        "wants; provably never an undercount, exact size rides along " +
        "as the audit."),

    // ---- q135: correlation matrix from exact moments ----------------------
    "q135_corr_matrix" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // snap each column to its natural integer grid ONCE (the data is
        // 2-decimal money/ratios): per-row arithmetic then runs in LONG
        // (products bounded: price-cents^2 < 2^47) and the accumulators
        // in scale-0 decimal — compact-long adds instead of the
        // BigDecimal(38,12) scale-aligned adds the first version paid
        // 15x per row (3.7 s -> sub-second at sf0.1). Pearson corr is
        // scale-invariant, so the grid change is value-neutral.
        // floor(x+0.5) not round(): Spark's Round on double goes through
        // BigDecimal per row; floor is one codegen'd Math.floor, and the
        // identical IEEE expression on the DuckDB side keeps bit parity
        val grid = Tables.lineitem(s, d).select(
          floor(col("l_quantity") + 0.5).cast("long").as("l_quantity"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("l_extendedprice"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("l_discount"),
          floor(col("l_tax") * 100 + 0.5).cast("long").as("l_tax"))
        def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 0))
        // ONE pass computes every moment exactly (integer sums commute);
        // correlations derive from the moments in a fixed double chain
        val aggs = count(lit(1)).as("n") +:
          (cols.map(c => sum(dec(col(c))).as(s"s_$c")) ++
           cols.map(c => sum(dec(col(c) * col(c))).as(s"ss_$c")) ++
           cols.combinations(2).toSeq.map { case Seq(a, b) =>
             sum(dec(col(a) * col(b))).as(s"sp_${a}_$b") })
        val m = grid.agg(aggs.head, aggs.tail: _*)
        // all six pair correlations project from the ONE moment row via
        // explode — a per-pair unionAll re-executed the full aggregate
        // subtree once per branch (6 corpus scans for 6 output rows)
        val pairStructs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
          struct(lit(a).as("x"), lit(b).as("y"),
            round((col("n").cast("double") * col(s"sp_${a}_$b").cast("double") -
              col(s"s_$a").cast("double") * col(s"s_$b").cast("double")) /
              (sqrt(col("n").cast("double") * col(s"ss_$a").cast("double") -
                 col(s"s_$a").cast("double") * col(s"s_$a").cast("double")) *
               sqrt(col("n").cast("double") * col(s"ss_$b").cast("double") -
                 col(s"s_$b").cast("double") * col(s"s_$b").cast("double"))),
              6).as("corr"))
        }
        m.select(explode(array(pairStructs: _*)).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"),
            col("p.corr").as("corr"))
          .orderBy(col("x"), col("y"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // DuckDB SUM(BIGINT) is HUGEINT — exact like Spark's scale-0
        // decimal; both sides convert each exact integer moment to
        // double once, then run the identical double chain
        def mom = s"""
          SELECT COUNT(*) AS n,
            ${cols.map(c => s"SUM(CAST($c AS HUGEINT)) AS s_$c").mkString(", ")},
            ${cols.map(c => s"SUM(CAST($c * $c AS HUGEINT)) AS ss_$c").mkString(", ")},
            ${cols.combinations(2).toSeq.map { case Seq(a, b) =>
              s"SUM(CAST($a * $b AS HUGEINT)) AS sp_${a}_$b" }.mkString(", ")}
          FROM (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS l_quantity,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS l_extendedprice,
                       CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS l_discount,
                       CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS l_tax
                FROM lineitem)"""
        val rows = cols.combinations(2).toSeq.map { case Seq(a, b) =>
          s"""SELECT '$a' AS x, '$b' AS y,
            round((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) -
              CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
              (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) -
                 CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *
               sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) -
                 CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))),
              6) AS corr FROM m"""
        }.mkString("\n          UNION ALL ")
        s"""
        WITH m AS ($mom)
        $rows
        ORDER BY x, y"""
      },
      "Pearson correlation matrix from ONE exact-moment pass: columns " +
        "snap to their natural integer grids (corr is scale-invariant), " +
        "so sums/sum-squares/cross-products run in LONG with scale-0 " +
        "decimal accumulators (order-independent, map-side combined, no " +
        "BigDecimal in the row loop), correlations derived in a fixed " +
        "double chain — the column-profiling primitive, engine-" +
        "identical by construction."),

    // ---- q136: Benford first-digit audit -----------------------------------
    "q136_benford_audit" -> Q(
      (s, d) => {
        // leading digit via string head of the integral part — exact on
        // any engine (no log10 float branch)
        val digit = substring(floor(col("l_extendedprice")).cast("long")
          .cast("string"), 1, 1).cast("int")
        val counts = Tables.lineitem(s, d)
          .filter(col("l_extendedprice") >= 1)
          .select(digit.as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("total"))
        counts.crossJoin(broadcast(total))
          .select(col("digit"), col("n"),
            round(col("n").cast("double") / col("total").cast("double"), 6)
              .as("observed"),
            round(log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")), 6).as("benford"),
            round((col("n").cast("double") / col("total").cast("double")) -
              log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")),
              6).as("excess"))
          .orderBy(col("digit"))
      },
      Some("""
        WITH c AS (
          SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                 COUNT(*) AS n
          FROM lineitem WHERE l_extendedprice >= 1
          GROUP BY 1
        ), t AS (SELECT SUM(n) AS total FROM c)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS observed,
               round(log10(1e0 + 1e0 / CAST(digit AS DOUBLE)), 6) AS benford,
               round((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) -
                 log10(1e0 + 1e0 / CAST(digit AS DOUBLE)), 6) AS excess
        FROM c CROSS JOIN t
        ORDER BY digit"""),
      "Benford first-digit audit over monetary values — the fraud/" +
        "data-quality profiling classic: observed leading-digit " +
        "distribution vs log10(1+1/d), with per-digit excess. The digit " +
        "comes from the integral part's string head (no float-log " +
        "branching), one 9-key map-side-combined aggregate."),

    // ---- q141: Z-order (Morton) clustering audit --------------------------
    "q141_zorder_stats" -> Q(
      (s, d) => graft.operators.ZOrder.bucketStats(
          Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")),
          Seq("l_partkey", "l_suppkey"), bits = 16, nBuckets = 64)
        .orderBy(col("z_bucket")),
      Some("""
        WITH b AS (
          SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
                 min(l_suppkey) AS mins, max(l_suppkey) AS maxs
          FROM lineitem
        ), r AS (
          SELECT l.l_partkey, l.l_suppkey,
                 CASE WHEN b.maxp - b.minp <= 0 THEN 0
                      ELSE (l.l_partkey - b.minp) * 65535 // (b.maxp - b.minp)
                 END AS rp,
                 CASE WHEN b.maxs - b.mins <= 0 THEN 0
                      ELSE (l.l_suppkey - b.mins) * 65535 // (b.maxs - b.mins)
                 END AS rs
          FROM lineitem l CROSS JOIN b
        ), z AS (
          SELECT l_partkey, l_suppkey,
                 CAST(list_sum(list_transform(range(0, 16), j ->
                   (((rp >> j) & 1) << (2*j)) + (((rs >> j) & 1) << (2*j + 1))))
                   AS BIGINT) AS zv
          FROM r
        )
        SELECT zv >> 26 AS z_bucket, COUNT(*) AS n_rows,
               min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
               min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
        FROM z
        GROUP BY 1
        ORDER BY z_bucket"""),
      "Z-order (Morton) clustering audit — the lakehouse data-skipping " +
        "layout: interleave exact integer ranks of (part, supplier) " +
        "into one key, cut the key space into 64 range buckets (what " +
        "repartitionByRange on the key produces as files), and report " +
        "each bucket's per-dimension bounding box — tight boxes in " +
        "BOTH dimensions at once are what parquet footer min/max " +
        "pruning needs for multi-predicate scans at 100 TB. Key " +
        "arithmetic is exact integer end to end, bit-identical across " +
        "engines.")
    ,
    // ---- q147: degree-ordered triangle counting ---------------------------
    "q147_triangle_count" -> Q(
      (s, d) => {
        // in-basket co-purchase edges via ONE groupBy + array pair
        // projection (the q164 shape) — the former lineitem self-join
        // shuffled the relation twice for the same pair set
        val edges = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
          .select(explode(col("pks")).as("a"), col("pks"))
          .select(col("a"), explode(col("pks")).as("b"))
          .filter(col("a") < col("b"))
        graft.operators.Graph.triangleStats(edges, "a", "b")
      },
      Some("""
        WITH e AS (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l1.l_partkey < l2.l_partkey
        ), deg AS (
          SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          GROUP BY v
        ), agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
          FROM deg
        ), tri AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          FROM e e1
          JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        ), ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               round(3e0 * CAST(n_triangles AS DOUBLE) /
                 CAST(n_wedges AS DOUBLE), 6) AS global_cc
        FROM agg, tri, ne"""),
      "Triangle count + global clustering coefficient over the " +
        "part co-purchase graph, by DEGREE-ORDERED edge orientation " +
        "(Suri & Vassilvitskii): every triangle generated once from " +
        "its lowest-(degree,id) corner, wedge fan-out capped at " +
        "O(sqrt(m)) per node — the skew bound that survives power-law " +
        "hubs at 100 TB. Equi-joins only (corner share + closing-edge " +
        "probe); counts are orientation-invariant, so the id-ordered " +
        "oracle agrees exactly."),

    // ---- q196: DOULION sampled triangle estimate ---------------------------
    "q196_triangle_estimate" -> Q(
      (s, d) => {
        // checkpoint the COMPACT basket arrays (the q164 lesson), not
        // the exploded pair relation: triangleEstimate reads its edge
        // input twice (full count + sampled count), and re-exploding
        // from ~|orders| arrays is cheap where pinning ~|pairs| rows
        // starved the 100x aggregates
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
          .localCheckpoint()
        val edges = baskets
          .select(explode(col("pks")).as("a"), col("pks"))
          .select(col("a"), explode(col("pks")).as("b"))
          .filter(col("a") < col("b"))
        graft.operators.Graph.triangleEstimate(edges, "a", "b",
          sampleDenom = 16)
      },
      Some("""
        WITH e AS (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l1.l_partkey < l2.l_partkey
        ), s AS (
          SELECT a, b FROM e
          WHERE CAST(concat('0x', substr(md5(CAST(a AS VARCHAR) || '_' ||
                  CAST(b AS VARCHAR)), 31, 2)) AS BIGINT) < 16
        ), tri AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles_sampled
          FROM s e1
          JOIN s e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN s e3 ON e3.a = e1.b AND e3.b = e2.b
        ), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_sampled FROM s),
           ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
        SELECT n_edges, n_edges_sampled, n_triangles_sampled,
               CAST(n_triangles_sampled * 4096 AS BIGINT) AS est_triangles,
               16 AS sample_denom
        FROM ne, ns, tri"""),
      "DOULION approximate triangle count (Tsourakakis): keep each " +
        "edge w.p. 1/16 by a DETERMINISTIC md5 coin on the canonical " +
        "pair, count exactly on the sparsified graph, scale by 16^3 — " +
        "unbiased, and the exact-counting work shrinks ~p^2, which " +
        "turns the cluster-scale exact pass (q147) into a one-JVM " +
        "query at 100x. The hash coin makes the estimate reproducible " +
        "and oracle-checkable."),

    // ---- q212: HITS hubs & authorities -------------------------------------
    "q212_hits" -> Q(
      (s, d) => {
        val edges = Tables.orders(s, d)
          .join(Tables.lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("buyer"), col("l_suppkey").as("sup"))
        graft.operators.Graph.hits(edges, "buyer", "sup", iters = 3)
          .orderBy(col("role"), col("id"))
      },
      Some {
        def decSum(x: String) =
          s"CAST(SUM(CAST(round($x, 14) AS DECIMAL(28,14))) AS DOUBLE)"
        val its = (1 to 3).map { i =>
          s""",
        ar$i AS MATERIALIZED (
          SELECT t, ${decSum("h")} AS a_raw
          FROM e JOIN h${i - 1} USING (s) GROUP BY t),
        az$i AS (SELECT ${decSum("a_raw")} AS az FROM ar$i),
        a$i AS MATERIALIZED (
          SELECT t, round(a_raw / az, 12) AS a
          FROM ar$i CROSS JOIN az$i),
        hr$i AS MATERIALIZED (
          SELECT s, ${decSum("a")} AS h_raw
          FROM e JOIN a$i USING (t) GROUP BY s),
        hz$i AS (SELECT ${decSum("h_raw")} AS hz FROM hr$i),
        h$i AS MATERIALIZED (
          SELECT s, round(h_raw / hz, 12) AS h
          FROM hr$i CROSS JOIN hz$i)"""
        }.mkString
        s"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS s, l_suppkey AS t
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS MATERIALIZED (
          SELECT s, round(1.0 / (SELECT COUNT(DISTINCT s) FROM e), 12) AS h
          FROM (SELECT DISTINCT s FROM e))$its
        SELECT 'hub' AS role, s AS id,
               CAST(round(CAST(h AS DECIMAL(38,12)), 9) AS DOUBLE) AS score
        FROM h3
        UNION ALL
        SELECT 'authority' AS role, t AS id,
               CAST(round(CAST(a AS DECIMAL(38,12)), 9) AS DOUBLE) AS score
        FROM a3
        ORDER BY role, id"""
      },
      "HITS hubs & authorities over the directed buyer->supplier " +
        "purchase graph (3 fixed iterations, L1-normalized) — the " +
        "centrality PAIR for bipartite-flavored graphs where " +
        "pageRank's single score conflates roles. The pageRank " +
        "determinism discipline (14-decimal DECIMAL(28,14) " +
        "accumulation, 12-decimal re-round per normalize) walks both " +
        "engines through identical score vectors; per pass only the " +
        "one-row-per-node score relations shuffle."),

    // ---- q204: degree assortativity ----------------------------------------
    "q204_assortativity" -> Q(
      (s, d) => {
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
        val edges = baskets
          .select(explode(col("pks")).as("a"), col("pks"))
          .select(col("a"), explode(col("pks")).as("b"))
          .filter(col("a") < col("b"))
        graft.operators.Graph.assortativity(edges, "a", "b")
      },
      Some("""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l1.l_partkey < l2.l_partkey
        ), deg AS MATERIALIZED (
          SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          GROUP BY v
        ), st AS (
          SELECT da.d AS da, db.d AS db
          FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
        ), m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 SUM(CAST(da + db AS HUGEINT)) AS sx,
                 SUM(CAST(da * da + db * db AS HUGEINT)) AS sxx,
                 SUM(CAST(da * db * 2 AS HUGEINT)) AS sxy
          FROM st
        ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        SELECT n_nodes, m AS n_edges,
               (CAST(m * 2 AS DOUBLE) * CAST(sxy AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                 nullif(CAST(m * 2 AS DOUBLE) * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                 AS assortativity
        FROM m CROSS JOIN nn"""),
      "Degree assortativity of the co-purchase graph (Newman): Pearson " +
        "correlation of endpoint degrees over both edge orientations — " +
        "positive means hubs attach to hubs, negative hubs-to-leaves; " +
        "the one-number structure read that decides whether hub-" +
        "targeted skew handling pays off. Four exact integer moments " +
        "(degrees already live on the integer grid), one unrounded " +
        "IEEE chain; never more than the edge list shuffles."),

    // ---- q303: edge-sampled assortativity (q204's 100x twin) ---------------
    "q303_assortativity_sampled" -> Q(
      (s, d) => {
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
        val edges = baskets
          .select(explode(col("pks")).as("a"), col("pks"))
          .select(col("a"), explode(col("pks")).as("b"))
          .filter(col("a") < col("b"))
        graft.operators.Graph.assortativitySampled(edges, "a", "b",
          sampleDenom = 16)
      },
      Some("""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l1.l_partkey < l2.l_partkey
        ), deg AS MATERIALIZED (
          SELECT v, COUNT(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          GROUP BY v
        ), sam AS (
          SELECT a, b FROM e
          WHERE CAST(concat('0x', substr(md5(CAST(a AS VARCHAR) || '_' ||
                  CAST(b AS VARCHAR)), 31, 2)) AS BIGINT) < 16
        ), st AS (
          SELECT da.d AS da, db.d AS db
          FROM sam JOIN deg da ON da.v = sam.a JOIN deg db ON db.v = sam.b
        ), m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS ms,
                 SUM(CAST(da + db AS HUGEINT)) AS sx,
                 SUM(CAST(da * da + db * db AS HUGEINT)) AS sxx,
                 SUM(CAST(da * db * 2 AS HUGEINT)) AS sxy
          FROM st
        ), nn AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(d) / 2 AS BIGINT) AS n_edges
          FROM deg)
        SELECT n_nodes, n_edges, ms AS n_edges_sampled,
               (CAST(ms * 2 AS DOUBLE) * CAST(sxy AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                 nullif(CAST(ms * 2 AS DOUBLE) * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                 AS assortativity_est,
               16 AS sample_denom
        FROM m CROSS JOIN nn"""),
      "q204's 100x-capable twin (the q196/q222b DOULION discipline): " +
        "TRUE degrees from one streaming pass over the full canonical " +
        "edge set (never checkpointed — the exact form's 120M-edge " +
        "materialization is its one-JVM killer), Pearson moments " +
        "folded over only the md5-coin-kept edges (p=1/16). Uniform " +
        "edge sampling with exact degree stamps is a consistent " +
        "estimator — the correlation is scale-invariant in the " +
        "p-scaled moment sums."),

    // ---- q199: k-core decomposition ----------------------------------------
    "q199_kcore" -> Q(
      (s, d) => {
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("pks"))
        val edges = baskets
          .select(explode(col("pks")).as("a"), col("pks"))
          .select(col("a"), explode(col("pks")).as("b"))
          .filter(col("a") < col("b"))
        // 8 rounds reach the 80-core fixpoint at the verify scale (6
        // peel rounds at sf0.01 — asserted by the fixpoint spec); the
        // fixed-round contract keeps both engines identical even when
        // a scale's peel runs deeper
        graft.operators.Graph.kCore(edges, "a", "b", k = 80, rounds = 8)
          .orderBy(col("v"))
      },
      Some {
        // MATERIALIZED: each round references the previous one three
        // times — inlined CTEs would expand 3^8-fold (DuckDB ran out
        // of file handles re-opening lineitem before running out of
        // time)
        val peels = (1 to 8).map { i =>
          s""",
        g$i AS MATERIALIZED (
          SELECT v FROM (
            SELECT v, COUNT(*) AS d FROM (
              SELECT a AS v FROM e${i - 1}
              UNION ALL SELECT b AS v FROM e${i - 1}) GROUP BY v)
          WHERE d >= 80),
        e$i AS MATERIALIZED (
          SELECT a, b FROM e${i - 1}
          WHERE a IN (SELECT v FROM g$i) AND b IN (SELECT v FROM g$i))"""
        }.mkString
        s"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey
           AND l1.l_partkey < l2.l_partkey)$peels
        SELECT v, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
          SELECT a AS v FROM e8 UNION ALL SELECT b AS v FROM e8)
        GROUP BY v ORDER BY v"""
      },
      "k-core decomposition of the part co-purchase graph by fixed-" +
        "round peeling (8 rounds reach the 80-core fixpoint at verify " +
        "scale): each round one degree aggregate + two semi-joins over " +
        "the only-shrinking edge set — the cohesion mining primitive " +
        "(dense-community extraction, spam-farm detection) that " +
        "survives where a single degree cut misses the cascade. The " +
        "oracle unrolls the identical 8 peels; the k-core's " +
        "uniqueness makes the result schedule-independent."),

    // ---- q150: declarative data-quality audit (Deequ shape) ---------------
    "q150_quality_audit" -> Q(
      (s, d) => {
        import graft.operators.Quality
        Quality.audit(Tables.orders(s, d), Seq(
            Quality.complete("o_custkey"),
            Quality.unique("o_orderkey"),
            Quality.inRange("o_totalprice", 0, 250000, minRatio = 0.9),
            Quality.matches("o_orderpriority", "^[1-5]-")))
          .orderBy(col("rule"), col("column"))
      },
      Some("""
        WITH m AS (
          SELECT
            round(CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*), 6) AS m0,
            round(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6) AS m1,
            round(CAST(COUNT(CASE WHEN o_totalprice >= 0 AND
              o_totalprice <= 250000 THEN 1 END) AS DOUBLE) /
              COUNT(o_totalprice), 6) AS m2,
            round(CAST(COUNT(CASE WHEN regexp_matches(o_orderpriority,
              '^[1-5]-') THEN 1 END) AS DOUBLE) /
              COUNT(o_orderpriority), 6) AS m3
          FROM orders
        )
        SELECT * FROM (
          SELECT 'complete' AS rule, 'o_custkey' AS "column", m0 AS metric,
                 CAST(1.0 AS DOUBLE) AS min_ratio, m0 >= 1.0 AS pass FROM m
          UNION ALL
          SELECT 'unique', 'o_orderkey', m1, CAST(1.0 AS DOUBLE),
                 m1 >= 1.0 FROM m
          UNION ALL
          SELECT 'in_range', 'o_totalprice', m2, CAST(0.9 AS DOUBLE),
                 m2 >= 0.9 FROM m
          UNION ALL
          SELECT 'matches', 'o_orderpriority', m3, CAST(1.0 AS DOUBLE),
                 m3 >= 1.0 FROM m)
        ORDER BY rule, "column""""),
      "Declarative data-quality audit, the Deequ/great-expectations " +
        "shape: completeness, key uniqueness, range conformance and " +
        "regexp conformance rules compile into ONE conditional-" +
        "aggregate scan (map-side combined; only the uniqueness rule " +
        "adds a distinct agg), exploding into a per-rule pass/fail " +
        "report. The in_range rule is calibrated to FAIL (~0.5 < 0.9) " +
        "so both verdict polarities are exercised at any scale."),

    // ---- q155: Bloom semi-join reduction (runtime-filter shape) -----------
    "q155_bloom_join_reduce" -> Q(
      (s, d) => {
        import graft.operators.Sketches
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("c_acctbal") > 4000)
          .select(col("c_custkey"), col("c_nationkey"))
        val bits = Sketches.keyBloomBits(dim, "c_custkey",
          mBits = 1 << 16, kHashes = 4)
        val reduced = Sketches.bloomReduce(
          Tables.orders(s, d), "o_custkey", bits, kHashes = 4)
        // hint("merge") models the big-dim case the pattern exists
        // for: the dim does NOT broadcast; the Bloom projection must
        // carry the reduction instead
        reduced.join(dim.hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy(col("c_nationkey"))
      },
      Some(s"""
        SELECT c.c_nationkey, COUNT(*) AS n_orders,
               ${sqlMoneySum("o.o_totalprice")} AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 4000
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey"""),
      "Bloom semi-join reduction — the runtime-filter pattern for " +
        "fact⋈dim joins where the dimension is too big to broadcast " +
        "but its key Bloom (64 Kbit here) is not: the fact side " +
        "filters by md5-Bloom membership as a pure projection BEFORE " +
        "its exchange (plan-pinned in PlanSpec), the sort-merge join " +
        "then eliminates the false positives, so the answer is exactly " +
        "the plain join's — hash-equal to the unfiltered oracle — " +
        "while the fact shuffle carries only rows that probably join. " +
        "No false negatives by construction."),

    // ---- q159: salted join under planted key skew -------------------------
    "q159_salted_join" -> Q(
      (s, d) => {
        import graft.operators.Skew
        // plant a hot key: a third of all events collapse onto user 0
        val fact = Tables.events(s, d)
          .select(col("event_id"), col("value"),
            when(col("event_id") % 3 === 0, 0L).otherwise(col("user_id"))
              .as("skew_user"))
        val dim = Tables.events(s, d)
          .select(col("user_id").as("d_user")).distinct()
          .withColumn("cohort", (col("d_user") % 7).cast("int"))
        Skew.saltedJoin(fact, "skew_user", dim.hint("merge"), "d_user",
            saltContent = Seq("event_id"), buckets = 16)
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("n"),
            moneySum(col("value")).as("sum_value"))
          .orderBy(col("cohort"))
      },
      Some("""
        WITH fact AS (
          SELECT event_id, value,
                 CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END
                   AS skew_user
          FROM events
        ), dim AS (
          SELECT DISTINCT user_id AS d_user,
                 CAST(user_id % 7 AS INT) AS cohort
          FROM events
        )
        SELECT d.cohort, COUNT(*) AS n,
               CAST(SUM(CAST(f.value AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_value
        FROM fact f JOIN dim d ON f.skew_user = d.d_user
        GROUP BY d.cohort
        ORDER BY d.cohort"""),
      "Salted equi-join under PLANTED key skew (a third of the fact " +
        "collapses onto one user): the fact side salts on a retry-safe " +
        "content hash, the dimension replicates across 16 salts, and " +
        "the join key becomes (key, salt) — the hot key spreads over " +
        "16 reducers instead of melting one. The manual form of AQE's " +
        "skew split, for known skew and for streaming joins where AQE " +
        "cannot replan; hash-equal to the plain-join oracle because " +
        "each fact row meets exactly its salt's replica.")
    ,

    // ---- q162: 2-D skyline / Pareto frontier -------------------------------
    "q162_skyline" -> Q(
      (s, d) => {
        val pp = Tables.part(s, d)
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        // per exact price: the smallest size at that price
        val perPrice = pp.groupBy(col("p_retailprice").as("pr"))
          .agg(min(col("p_size")).as("gmin"))
        // running min over STRICTLY cheaper prices = lag of the cum-min
        val byPrice = Window.orderBy(col("pr"))
        val frontier = perPrice
          .withColumn("cm", min(col("gmin")).over(
            byPrice.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev_min", lag(col("cm"), 1).over(byPrice))
        pp.join(frontier, col("p_retailprice") === col("pr"))
          .filter(col("p_size") === col("gmin") &&
            (col("prev_min").isNull || col("prev_min") > col("p_size")))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy(col("p_retailprice"), col("p_partkey"))
      },
      Some("""
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= p.p_retailprice
            AND q.p_size <= p.p_size
            AND (q.p_retailprice < p.p_retailprice
                 OR q.p_size < p.p_size))
        ORDER BY p.p_retailprice, p.p_partkey"""),
      "2-D skyline (Pareto frontier) over (price, size) — the " +
        "multi-objective 'best tradeoffs' query: a part survives iff " +
        "nothing is <= on both dimensions and < on one. The oracle is " +
        "the quadratic NOT-EXISTS self-join; the engine plan is " +
        "O(n log n): group to one (price, min-size) row per distinct " +
        "price, one ordered window for the strictly-cheaper running " +
        "min, and a broadcast join back — dominance collapses to " +
        "'my size equals my price-group min AND beats every cheaper " +
        "group's min'. The window runs over |distinct prices| rows, " +
        "not the corpus, so the single-partition global sort that " +
        "kills naive skylines at 100 TB never touches the fact table."),

    // ---- q163: chi-square independence test --------------------------------
    "q163_chi_square" -> Q(
      (s, d) => {
        val joined = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
        val cells = joined.groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(count(lit(1)).as("obs"))
        val rowT = Window.partitionBy(col("c_mktsegment"))
        val colT = Window.partitionBy(col("o_orderpriority"))
        val tot = Window.partitionBy()
        cells
          .withColumn("rt", sum(col("obs")).over(rowT))
          .withColumn("ct", sum(col("obs")).over(colT))
          .withColumn("n", sum(col("obs")).over(tot))
          .withColumn("expected",
            (col("rt") * col("ct")).cast("double") / col("n").cast("double"))
          .withColumn("contrib", round(
            (col("obs").cast("double") - col("expected")) *
            (col("obs").cast("double") - col("expected")) / col("expected"), 6))
          .withColumn("chi2", sum(col("contrib").cast(DecimalType(27, 6)))
            .over(tot).cast("double"))
          .select(col("c_mktsegment"), col("o_orderpriority"), col("obs"),
            round(col("expected"), 6).as("expected"), col("contrib"),
            col("chi2"))
          .orderBy(col("c_mktsegment"), col("o_orderpriority"))
      },
      Some("""
        WITH cells AS (
          SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS obs
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ), w AS (
          SELECT c_mktsegment, o_orderpriority, obs,
                 SUM(obs) OVER (PARTITION BY c_mktsegment) AS rt,
                 SUM(obs) OVER (PARTITION BY o_orderpriority) AS ct,
                 SUM(obs) OVER () AS n
          FROM cells
        ), e AS (
          SELECT c_mktsegment, o_orderpriority, obs,
                 CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
                 round((CAST(obs AS DOUBLE) -
                        CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(obs AS DOUBLE) -
                        CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) /
                       (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                   AS contrib
          FROM w
        )
        SELECT c_mktsegment, o_orderpriority, obs,
               round(expected, 6) AS expected, contrib,
               CAST(SUM(CAST(contrib AS DECIMAL(27,6))) OVER () AS DOUBLE)
                 AS chi2
        FROM e
        ORDER BY c_mktsegment, o_orderpriority"""),
      "Chi-square test of independence (segment × order priority): the " +
        "contingency table collapses to |segments|×|priorities| cells " +
        "in one map-side-combined aggregate, marginals ride three " +
        "windows over that bounded relation (never the fact table), " +
        "and each cell's (obs-exp)^2/exp is integer-derived IEEE " +
        "arithmetic rounded onto the decimal grid before the exact " +
        "decimal total — both engines report the identical statistic. " +
        "The shape every categorical drift/feature-dependence check " +
        "at 100 TB reduces to: full scan, tiny state."),

    // ---- q164: within-basket co-occurrence, top-k neighbors ---------------
    "q164_basket_cooc" -> Q(
      (s, d) => {
        // ONE groupBy collapses dedup + per-basket cap (the 8 smallest
        // parts per order) into a sorted array; in-basket pairs then
        // come from exploding the array against itself — a pure
        // projection bounded at 28 pairs/basket — instead of the old
        // distinct + window + SELF-JOIN, which shuffled the capped
        // relation three more times
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 8)
            .as("pks"))
          .localCheckpoint()
        val pairs = baskets
          .select(explode(col("pks")).as("i"), col("pks"))
          .select(col("i"), explode(col("pks")).as("j"))
          .filter(col("i") < col("j"))
          .groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
          // pairs feed both halves of the symmetric union
          .localCheckpoint()
        val itemN = baskets.select(explode(col("pks")).as("it"))
          .groupBy(col("it")).agg(count(lit(1)).as("ni"))
        val sym = pairs.select(col("i"), col("j"), col("co"))
          .union(pairs.select(col("j"), col("i"), col("co")))
        val scored = sym
          .join(itemN.toDF("it_a", "na"), col("i") === col("it_a"))
          .join(itemN.toDF("it_b", "nb"), col("j") === col("it_b"))
          .withColumn("cosine", round(col("co").cast("double") /
            sqrt((col("na") * col("nb")).cast("double")), 6))
        scored
          .withColumn("rank", row_number().over(Window.partitionBy(col("i"))
            .orderBy(col("cosine").desc, col("j"))))
          .filter(col("rank") <= 3)
          .select(col("i").as("item"), col("rank").cast("int").as("rank"),
            col("j").as("neighbor"), col("co"), col("cosine"))
          .orderBy(col("item"), col("rank"))
      },
      Some("""
        WITH capped AS (
          SELECT l_orderkey, l_partkey FROM (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
          QUALIFY row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_partkey) <= 8
        ), pairs AS (
          SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS co
          FROM capped a JOIN capped b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2
        ), item_n AS (
          SELECT l_partkey AS it, COUNT(*) AS ni FROM capped GROUP BY 1
        ), sym AS (
          SELECT i, j, co FROM pairs
          UNION ALL SELECT j, i, co FROM pairs
        ), scored AS (
          SELECT s.i, s.j, s.co,
                 round(CAST(s.co AS DOUBLE) /
                   sqrt(CAST(na.ni * nb.ni AS DOUBLE)), 6) AS cosine
          FROM sym s
          JOIN item_n na ON s.i = na.it
          JOIN item_n nb ON s.j = nb.it
        )
        SELECT i AS item, CAST(rank AS INT) AS rank, j AS neighbor,
               co, cosine
        FROM (
          SELECT *, row_number() OVER (PARTITION BY i
            ORDER BY cosine DESC, j) AS rank
          FROM scored)
        WHERE rank <= 3
        ORDER BY item, rank"""),
      "Item-item co-occurrence recommendations from order baskets: " +
        "baskets CAP at 8 items (deterministic keep-lowest — the skew " +
        "bound: a mega-basket contributes C(8,2)=28 pairs, not " +
        "C(10^5,2); crawler carts and bot sessions are exactly the " +
        "power-law hubs that quadratize uncapped basket self-joins at " +
        "100 TB), pairs count via one same-key self-join with " +
        "map-side combine, cosine normalizes by item frequencies, and " +
        "per-item top-3 rides WindowGroupLimit so full neighbor lists " +
        "never rank. Support floor co>=2 drops the singleton noise " +
        "tail. The item-CF sketch every 'customers also bought' " +
        "pipeline runs.")
    ,

    // ---- q166: Gini concentration per segment ------------------------------
    "q166_gini" -> Q(
      (s, d) => {
        val spend = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("c_custkey"))
          .agg(moneySum(col("o_totalprice")).as("spend"))
        val seg = Window.partitionBy(col("c_mktsegment"))
        val ranked = spend.withColumn("i", row_number().over(
          seg.orderBy(col("spend"), col("c_custkey"))))
        ranked.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("spend"), 2).cast(DecimalType(27, 6)))
              .cast("double").as("s0"),
            sum(round(col("i") * col("spend"), 4).cast(DecimalType(38, 6)))
              .cast("double").as("s1"))
          .select(col("c_mktsegment"), col("n_customers"),
            round(col("s0"), 2).as("total_spend"),
            round((lit(2.0) * col("s1") -
              (col("n_customers") + 1).cast("double") * col("s0")) /
              (col("n_customers").cast("double") * col("s0")), 6).as("gini"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""
        WITH spend AS (
          SELECT c.c_mktsegment, c.c_custkey,
                 ${sqlMoneySum("o.o_totalprice")} AS spend
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY c_mktsegment
            ORDER BY spend, c_custkey) AS i
          FROM spend
        ), agg AS (
          SELECT c_mktsegment, COUNT(*) AS n_customers,
                 CAST(SUM(CAST(round(spend, 2) AS DECIMAL(27,6)))
                   AS DOUBLE) AS s0,
                 CAST(SUM(CAST(round(i * spend, 4) AS DECIMAL(38,6)))
                   AS DOUBLE) AS s1
          FROM ranked GROUP BY 1
        )
        SELECT c_mktsegment, n_customers, round(s0, 2) AS total_spend,
               round((2.0 * s1 - CAST(n_customers + 1 AS DOUBLE) * s0) /
                 (CAST(n_customers AS DOUBLE) * s0), 6) AS gini
        FROM agg
        ORDER BY c_mktsegment"""),
      "Gini coefficient of customer-spend concentration per segment — " +
        "the inequality/concentration metric (whale detection, revenue " +
        "risk, mixture skew): per-customer decimal-exact spend, ranks " +
        "from one per-segment window (ties broken by key), and the " +
        "closed-form G = (2*Sum(i*s_i) - (n+1)*Sum(s_i)) / (n*Sum(s_i)) " +
        "from two decimal-gridded sums — no pairwise |s_i - s_j| " +
        "matrix, which is how the textbook formula quadratizes. The " +
        "rank window shuffles |customers| rows once; every product is " +
        "a single IEEE multiply rounded onto the decimal grid, so both " +
        "engines report identical coefficients.")
    ,

    // ---- q174: decile concentration report ---------------------------------
    "q174_decile_report" -> Q(
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(moneySum(col("o_totalprice")).as("spend"))
        // ntile over the customer spine via the ranged rank
        // (Skew.rangedRank), not an unpartitioned window that would
        // single-partition a relation that GROWS with the corpus —
        // rank + NTile arithmetic is value-identical (unique total
        // order: spend desc, custkey)
        val ranked = graft.operators.Skew.rangedRank(spend,
          Seq(col("spend").desc, col("o_custkey")))
        val deciles = ranked
          .withColumn("decile",
            graft.operators.Skew.ntileFromRank(col("_rank"), col("_n"), 10))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("spend"), 2).cast(DecimalType(27, 6)))
              .cast("double").as("rev"))
        val tot = Window.partitionBy()
        val cum = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deciles
          .withColumn("grand", sum(col("rev").cast(DecimalType(27, 6)))
            .over(tot).cast("double"))
          .withColumn("cum_rev", sum(col("rev").cast(DecimalType(27, 6)))
            .over(cum).cast("double"))
          .select(col("decile"), col("n_customers"),
            round(col("rev"), 2).as("revenue"),
            round(col("rev") / col("grand"), 6).as("rev_share"),
            round(col("cum_rev") / col("grand"), 6).as("cum_share"))
          .orderBy(col("decile"))
      },
      Some(s"""
        WITH spend AS (
          SELECT o_custkey, ${sqlMoneySum("o_totalprice")} AS spend
          FROM orders GROUP BY 1
        ), ranked AS (
          SELECT *, ntile(10) OVER (ORDER BY spend DESC, o_custkey)
            AS decile
          FROM spend
        ), deciles AS (
          SELECT decile, COUNT(*) AS n_customers,
                 CAST(SUM(CAST(round(spend, 2) AS DECIMAL(27,6)))
                   AS DOUBLE) AS rev
          FROM ranked GROUP BY 1
        ), w AS (
          SELECT decile, n_customers, rev,
                 CAST(SUM(CAST(rev AS DECIMAL(27,6))) OVER ()
                   AS DOUBLE) AS grand,
                 CAST(SUM(CAST(rev AS DECIMAL(27,6))) OVER
                   (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS DOUBLE) AS cum_rev
          FROM deciles
        )
        SELECT decile, n_customers, round(rev, 2) AS revenue,
               round(rev / grand, 6) AS rev_share,
               round(cum_rev / grand, 6) AS cum_share
        FROM w
        ORDER BY decile"""),
      "Customer-spend decile report (the Pareto/'top 10% of customers " +
        "drive X%' readout): decimal-exact per-customer spend, " +
        "ntile(10) over a TOTAL order (spend desc, key — identical " +
        "bucket boundaries on both engines), then per-decile revenue, " +
        "share, and cumulative share from decimal window sums over the " +
        "10-row decile relation. The ntile is a ranged rank over " +
        "|customers| rows (a range-partitioned, sorted pin whose " +
        "per-partition counts give rank offsets), not a " +
        "single-partition window; the report windows stay 10 rows " +
        "regardless.")
    ,

    // ---- q182: rollup hierarchy with ratio-to-parent -----------------------
    "q182_rollup_ratios" -> Q(
      (s, d) => {
        val joined = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
        // ONE rollup pass; the three levels then self-assemble from the
        // tiny (|nations|+|regions|+1)-row relation — lazy checkpoint so
        // the corpus aggregate is not re-planned per level
        val ru = joined.rollup(col("r_name"), col("n_name"))
          .agg(moneySum(col("o_totalprice")).as("rev"),
            grouping(col("r_name")).as("gr"),
            grouping(col("n_name")).as("gn"))
          .localCheckpoint(false)
        val grand = ru.filter(col("gr") === 1)
          .select(col("rev").as("grand_rev"))
        val regions = ru.filter(col("gr") === 0 && col("gn") === 1)
          .select(col("r_name"), col("rev"))
        val nations = ru.filter(col("gn") === 0)
          .select(col("r_name"), col("n_name"), col("rev"))
        val regionOut = regions.crossJoin(broadcast(grand))
          .select(lit("region").as("level"), col("r_name"),
            lit(null).cast("string").as("n_name"),
            round(col("rev"), 2).as("revenue"),
            round(col("rev") / col("grand_rev"), 6).as("share_of_parent"))
        val nationOut = nations
          .join(broadcast(regions.select(col("r_name"),
            col("rev").as("parent_rev"))), Seq("r_name"))
          .select(lit("nation").as("level"), col("r_name"), col("n_name"),
            round(col("rev"), 2).as("revenue"),
            round(col("rev") / col("parent_rev"), 6).as("share_of_parent"))
        val totalOut = grand.select(lit("total").as("level"),
          lit(null).cast("string").as("r_name"),
          lit(null).cast("string").as("n_name"),
          round(col("grand_rev"), 2).as("revenue"),
          lit(1.0).as("share_of_parent"))
        totalOut.unionByName(regionOut).unionByName(nationOut)
          .orderBy(col("level"),
            coalesce(col("r_name"), lit("")),
            coalesce(col("n_name"), lit("")))
      },
      Some(s"""
        WITH ru AS (
          SELECT r.r_name, n.n_name,
                 ${sqlMoneySum("o.o_totalprice")} AS rev,
                 GROUPING(r.r_name) AS gr, GROUPING(n.n_name) AS gn
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY ROLLUP (r.r_name, n.n_name)
        ), grand AS (SELECT rev AS grand_rev FROM ru WHERE gr = 1),
        regions AS (
          SELECT r_name, rev FROM ru WHERE gr = 0 AND gn = 1
        ), nations AS (
          SELECT r_name, n_name, rev FROM ru WHERE gn = 0
        )
        SELECT * FROM (
          SELECT 'total' AS level, CAST(NULL AS VARCHAR) AS r_name,
                 CAST(NULL AS VARCHAR) AS n_name,
                 round(grand_rev, 2) AS revenue, 1.0 AS share_of_parent
          FROM grand
          UNION ALL
          SELECT 'region', r.r_name, NULL, round(r.rev, 2),
                 round(r.rev / g.grand_rev, 6)
          FROM regions r CROSS JOIN grand g
          UNION ALL
          SELECT 'nation', n.r_name, n.n_name, round(n.rev, 2),
                 round(n.rev / r.rev, 6)
          FROM nations n JOIN regions r ON n.r_name = r.r_name)
        ORDER BY level, coalesce(r_name, ''), coalesce(n_name, '')"""),
      "Hierarchy rollup with RATIO-TO-PARENT shares (total → region → " +
        "nation) — the drill-down report primitive: one rollup pass " +
        "over the corpus emits all three levels with grouping() tags " +
        "(partial-aggregatable — Spark expands grouping sets map-side), " +
        "then shares assemble from the tiny level relation via " +
        "broadcast self-joins under a lazy checkpoint, so the corpus " +
        "aggregate plans exactly once (the q135 lesson). Exact decimal " +
        "revenue; one rounded division per row.")
  ) ++ Seq(

    // ---- q246: multi-source BFS hop distances ------------------------------
    "q246_bfs_hops" -> Q(
      (s, d) => {
        // supplier <-> part bipartite supply graph; part ids offset so
        // both node kinds share one id space
        val edges = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sn"),
            (col("l_partkey") + 1000000L).as("pn"))
          .distinct()
        val sources = Tables.supplier(s, d)
          .filter(col("s_nationkey") === 0)
          .select(col("s_suppkey"))
        graft.operators.Graph.bfsHops(edges, "sn", "pn",
            sources, "s_suppkey", maxHops = 4)
          .select(col("v").as("node"),
            when(col("v") >= 1000000L, lit("part")).otherwise(lit("supplier"))
              .as("kind"),
            col("hops"))
          .orderBy(col("node"))
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT DISTINCT l_suppkey AS s, 1000000 + l_partkey AS t
          FROM lineitem
          UNION
          SELECT DISTINCT 1000000 + l_partkey, l_suppkey FROM lineitem),
        srcs AS (
          SELECT DISTINCT s_suppkey AS v FROM supplier WHERE s_nationkey = 0),
        walk(v, d) AS (
          SELECT v, 0 FROM srcs
          UNION
          SELECT e.t, w.d + 1 FROM walk w JOIN e ON e.s = w.v WHERE w.d < 4)
        SELECT v AS node,
               CASE WHEN v >= 1000000 THEN 'part' ELSE 'supplier' END AS kind,
               CAST(MIN(d) AS INT) AS hops
        FROM walk GROUP BY v
        ORDER BY node"""),
      "Multi-source BFS (Graph.bfsHops): minimum hops from the " +
        "nation-0 suppliers across the supplier-part supply graph, " +
        "bounded at 4 — the recall/impact-analysis reachability sweep. " +
        "Frontier-delta iteration: each round shuffles only the " +
        "frontier's edge neighborhood and anti-joins out labeled " +
        "nodes, exiting early at an empty frontier (result-identical); " +
        "distances are first-assignment minima, so no min-aggregate " +
        "ever runs. The oracle explores the same bounded walk as a " +
        "recursive CTE and takes MIN(d) — integer outputs, nothing to " +
        "drift.")
  ) ++ Seq(

    // ---- q265: Pareto / ABC inventory classification -----------------------
    "q265_pareto_abc" -> Q(
      (s, d) => {
        // cumulative-share prefix runs over the AGGREGATED part
        // relation (|part| rows, never |lineitem|) — the same
        // bounded-spine stance as bhFdr's battery window; revenue stays
        // DECIMAL through the window so the prefix sum is exact and the
        // share is one IEEE division of exact parts
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(27, 6))).as("rev_dec"))
        // ranged rank (Skew.rangedRank): rank, the exact DECIMAL prefix
        // sum and the grand total, without an unpartitioned window
        // over the part relation, which grows with the corpus
        graft.operators.Skew.rangedRank(rev,
            Seq(col("rev_dec").desc, col("l_partkey")),
            prefixSums = Seq("cum_dec" -> col("rev_dec")))
          .withColumn("tot_dec", col("_tot_cum_dec"))
          .withColumn("rank", col("_rank").cast("int"))
          .select(col("l_partkey").as("p_partkey"),
            col("rank"),
            col("rev_dec").cast("double").as("revenue"),
            round(col("cum_dec").cast("double") /
              col("tot_dec").cast("double"), 6).as("cum_share"))
          .withColumn("abc_class",
            when(col("cum_share") <= lit(0.8), lit("A"))
              .when(col("cum_share") <= lit(0.95), lit("B"))
              .otherwise(lit("C")))
          .orderBy(col("rank"))
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey AS p_partkey,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(27,6))) AS rev_dec
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT p_partkey, rev_dec,
                 CAST(row_number() OVER
                   (ORDER BY rev_dec DESC, p_partkey) AS INT) AS rank,
                 SUM(rev_dec) OVER
                   (ORDER BY rev_dec DESC, p_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_dec,
                 SUM(rev_dec) OVER () AS tot_dec
          FROM rev)
        SELECT p_partkey, rank, CAST(rev_dec AS DOUBLE) AS revenue,
               round(CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE), 6)
                 AS cum_share,
               CASE WHEN round(CAST(cum_dec AS DOUBLE)
                      / CAST(tot_dec AS DOUBLE), 6) <= 0.8 THEN 'A'
                    WHEN round(CAST(cum_dec AS DOUBLE)
                      / CAST(tot_dec AS DOUBLE), 6) <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked ORDER BY rank"""),
      "Pareto / ABC classification of parts by revenue share — the " +
        "'which 20% of SKUs carry 80% of revenue' curation primitive " +
        "(the same cumulative-share shape picks which sources dominate " +
        "a training corpus). One corpus aggregation bounded by part " +
        "cardinality, then a prefix window over THAT bounded relation " +
        "— revenue stays DECIMAL through the window so the running sum " +
        "is exact and each share is one IEEE division; class edges " +
        "compare the ROUNDED share on both engines so the boundary " +
        "rows cannot fork."),

    // ---- q266: association rules (support / confidence / lift) -------------
    "q266_assoc_rules" -> Q(
      (s, d) => {
        // q164's capped-basket shape (the 8 smallest distinct parts
        // per order — a projection-bounded 28 pairs/basket), but the
        // market-basket RULE readout: a->b with support, confidence
        // and lift, min-support pruned BEFORE the directional expand
        // (the Apriori downward-closure trick: an infrequent pair
        // cannot produce a frequent rule)
        val baskets = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, 8)
            .as("pks"))
          .localCheckpoint()
        val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
        val pairs = baskets
          .select(explode(col("pks")).as("i"), col("pks"))
          .select(col("i"), explode(col("pks")).as("j"))
          .filter(col("i") < col("j"))
          .groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
          .localCheckpoint()
        val itemN = baskets.select(explode(col("pks")).as("it"))
          .groupBy(col("it")).agg(count(lit(1)).as("ni"))
        val rules = pairs.select(col("i").as("a"), col("j").as("b"), col("co"))
          .union(pairs.select(col("j").as("a"), col("i").as("b"), col("co")))
        def d2(c: Column) = c.cast("double")
        rules
          .join(itemN.toDF("it_a", "na"), col("a") === col("it_a"))
          .join(itemN.toDF("it_b", "nb"), col("b") === col("it_b"))
          .crossJoin(broadcast(nBaskets))
          .withColumn("support", round(d2(col("co")) / d2(col("n_baskets")), 6))
          .withColumn("confidence", round(d2(col("co")) / d2(col("na")), 6))
          .withColumn("lift", round(d2(col("co")) * d2(col("n_baskets")) /
            (d2(col("na")) * d2(col("nb"))), 6))
          .filter(col("confidence") >= 0.1)
          .select(col("a"), col("b"), col("co"), col("na").as("n_a"),
            col("nb").as("n_b"), col("support"), col("confidence"),
            col("lift"))
          .orderBy(col("a"), col("b"))
      },
      Some("""
        WITH baskets AS (
          SELECT l_orderkey,
                 list_sort(list_distinct(list(l_partkey)))[1:8] AS pks
          FROM lineitem GROUP BY 1),
        nb AS (SELECT COUNT(*) AS n_baskets FROM baskets),
        items AS (
          SELECT unnest(pks) AS it, l_orderkey FROM baskets),
        itemn AS (
          SELECT it, COUNT(*) AS ni FROM items GROUP BY 1),
        pairs AS (
          SELECT x.it AS i, y.it AS j, COUNT(*) AS co
          FROM items x JOIN items y
            ON x.l_orderkey = y.l_orderkey AND x.it < y.it
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        rules AS (
          SELECT i AS a, j AS b, co FROM pairs
          UNION ALL
          SELECT j AS a, i AS b, co FROM pairs)
        SELECT r.a, r.b, r.co, ia.ni AS n_a, ib.ni AS n_b,
               round(CAST(r.co AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 6)
                 AS support,
               round(CAST(r.co AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6)
                 AS confidence,
               round(CAST(r.co AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                 / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 6)
                 AS lift
        FROM rules r
        JOIN itemn ia ON ia.it = r.a
        JOIN itemn ib ON ib.it = r.b
        CROSS JOIN nb
        WHERE round(CAST(r.co AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6) >= 0.1
        ORDER BY a, b"""),
      "Association rules over order baskets: directional a→b with " +
        "support, confidence and lift — the market-basket readout one " +
        "tier above q164's symmetric cosine neighbors. Min-support " +
        "prunes pairs BEFORE the directional expand (Apriori downward " +
        "closure: an infrequent itemset cannot yield a frequent rule), " +
        "so the rule relation is born small; item counts join back " +
        "onto it, never onto the corpus. All three metrics are single " +
        "IEEE chains over exact counts, rounded on both engines; the " +
        "confidence gate compares the ROUNDED value so boundary rules " +
        "cannot fork."),

    // ---- q274: sampled-source closeness / harmonic centrality --------------
    "q274_closeness" -> Q(
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sn"),
            (col("l_partkey") + 1000000L).as("pn"))
          .distinct()
        val roots = Tables.supplier(s, d)
          .filter(col("s_suppkey") <= 3)
          .select(col("s_suppkey"))
        graft.operators.Graph.closenessReport(edges, "sn", "pn",
          roots, "s_suppkey", maxHops = 4)
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT DISTINCT l_suppkey AS s, 1000000 + l_partkey AS t
          FROM lineitem
          UNION
          SELECT DISTINCT 1000000 + l_partkey, l_suppkey FROM lineitem),
        srcs AS (
          SELECT s_suppkey AS root FROM supplier WHERE s_suppkey <= 3),
        walk(root, v, dd) AS (
          SELECT root, root, 0 FROM srcs
          UNION
          SELECT w.root, e.t, w.dd + 1
          FROM walk w JOIN e ON e.s = w.v WHERE w.dd < 4),
        md AS (
          SELECT root, v, MIN(dd) AS dd FROM walk GROUP BY 1, 2)
        SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(dd) AS BIGINT) AS sum_hops,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(dd) AS DOUBLE)
                 AS closeness,
               round(CAST(SUM(CAST(round(CAST(1 AS DOUBLE)
                     / CAST(dd AS DOUBLE), 12) AS DECIMAL(28,12)))
                 AS DOUBLE), 6) AS harmonic
        FROM md WHERE dd > 0
        GROUP BY root ORDER BY root"""),
      "Hop-bounded closeness and harmonic centrality for a sampled " +
        "root panel over the supplier-part supply graph — 'which hubs " +
        "reach the graph fastest', the per-node readout beside the " +
        "global centralities (q111 PageRank, q212 HITS). One keyed " +
        "BFS sweep advances every root together (per-round shuffle = " +
        "the union of frontier neighborhoods, the sampled-source " +
        "contract that keeps exact closeness off the O(V·E) cliff), " +
        "then a per-root reduction: closeness is a pure integer " +
        "ratio, harmonic terms snap to the 1e-12 grid and sum " +
        "exactly.")
  )
}
