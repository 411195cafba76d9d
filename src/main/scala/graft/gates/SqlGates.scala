package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures
import graft.Fixtures.table
import graft.functions.Bucketing
import graft.lake.{Database, LakeDataset}
import graft.operators.{Dedup, Joins, StringCache}
import GateHelpers.{dsum, osum, dailyPurchases}

/** The SQL and DataFrame surface (SURVEY.md §2.B): the TPC-style `q*`
  * queries, catalog SQL execution, as-of and range joins, sketch
  * overlaps, bucketing and the time-series toolkit.
  */
private[gates] object SqlGates {
  val gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${osum("l_quantity")} AS sum_qty,
         |  ${osum("l_extendedprice")} AS sum_base_price,
         |  ${osum("l_extendedprice*(1-l_discount)", 4)} AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Gate("q02_filter_pushdown", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_quantity") >= 49 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_quantity >= 49 AND l_returnflag = 'R'""".stripMargin)),

    Gate("q03_top_orders", (s, dir) => {
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .filter(o("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          l("l_shipdate") > lit("1997-01-01").cast("timestamp_ntz"))
        .groupBy(o("o_orderkey"), o("o_orderdate"))
        .agg(dsum(l("l_extendedprice") * (lit(1) - l("l_discount")), 4).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    }, Sql(
      s"""SELECT o_orderkey, o_orderdate,
         |  ${osum("l_extendedprice*(1-l_discount)", 4)} AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         |  AND o_orderkey = l_orderkey
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |  AND l_shipdate > TIMESTAMP '1997-01-01'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    Gate("q04_semi_join", (s, dir) => {
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem").filter(col("l_quantity") >= 48)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }, Sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority""".stripMargin)),

    Gate("q05_revenue_by_nation", (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      val sup = table(s, dir, "supplier")
      val n = table(s, dir, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(dsum(l("l_extendedprice") * (lit(1) - l("l_discount")), 4).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }, Sql(
      s"""SELECT n_name, ${osum("l_extendedprice*(1-l_discount)", 4)} AS revenue
         |FROM customer, orders, lineitem, supplier, nation
         |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin)),

    Gate("q06_forecast_revenue", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
          col("l_quantity") < 24)
        .agg(
          dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
    }, Sql(
      s"""SELECT ${osum("l_extendedprice*l_discount", 4)} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.03 AND l_discount <= 0.05
         |  AND l_quantity < 24""".stripMargin)),

    Gate("q07_cte_union", (s, dir) => {
      val o = table(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 300000)
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(lit("high").as("tier"), col("n"), col("total"))
      val lo = o.filter(col("o_totalprice") < 5000)
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(lit("low").as("tier"), col("n"), col("total"))
      hi.unionByName(lo).orderBy("tier")
    }, Sql(
      s"""WITH hi AS (SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |            FROM orders WHERE o_totalprice > 300000),
         |     lo AS (SELECT COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |            FROM orders WHERE o_totalprice < 5000)
         |SELECT 'high' AS tier, n, total FROM hi
         |UNION ALL
         |SELECT 'low' AS tier, n, total FROM lo""".stripMargin)),

    Gate("q08_sort_limit", (s, dir) => {
      table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
        .limit(20)
    }, Sql(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 20""".stripMargin)),

    Gate("q09_distinct_agg", (s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("distinct_supp"),
          countDistinct(col("l_partkey")).as("distinct_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, Sql(
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS distinct_supp,
        |  COUNT(DISTINCT l_partkey) AS distinct_part,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Gate("q10_case_arith", (s, dir) => {
      table(s, dir, "orders")
        .select(
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "medium")
            .otherwise("large").as("size_tier"),
          col("o_totalprice"))
        .groupBy("size_tier")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("size_tier")
    }, Sql(
      s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
         |            WHEN o_totalprice < 200000 THEN 'medium'
         |            ELSE 'large' END AS size_tier,
         |  COUNT(*) AS n_orders, ${osum("o_totalprice")} AS total
         |FROM orders GROUP BY 1""".stripMargin)),

    Gate("q11_string_fns", (s, dir) => {
      table(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
    }, Sql(
      """SELECT p_partkey,
        |  LOWER(p_name) AS name_lower,
        |  UPPER(p_brand) AS brand_upper,
        |  SUBSTR(p_type, 1, 5) AS type_prefix,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  p_brand || '|' || p_type AS brand_type
        |FROM part""".stripMargin)),

    Gate("q12_date_parts", (s, dir) => {
      table(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_year", "o_month")
    }, Sql(
      s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
         |  COUNT(*) AS n_orders, ${osum("o_totalprice")} AS total
         |FROM orders GROUP BY 1, 2""".stripMargin)),

    Gate("q13_window_rank", (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      table(s, dir, "customer")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("c_nationkey", "rk", "c_custkey", "c_acctbal")
    }, Sql(
      """SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) t
        |WHERE rk <= 3""".stripMargin)),

    Gate("q14_rollup", (s, dir) => {
      table(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${osum("l_quantity")} AS qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    Gate("q15_events_daily", (s, dir) => {
      table(s, dir, "events")
        .groupBy(
          date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        .orderBy("day", "event_type")
    }, Sql(
      s"""SELECT date_trunc('day', ts) AS day, event_type,
         |  COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin)),

    Gate("q16_anti_join", (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_nationkey")
    }, Sql(
      """SELECT c_nationkey, COUNT(*) AS n_customers
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_nationkey""".stripMargin)),

    Gate("q17_json_extract", (s, dir) => {
      table(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
    }, Sql(
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k_val
        |FROM events""".stripMargin)),

    Gate("q18_math_fns", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          abs(col("l_extendedprice") - 30000).as("abs_delta"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          // ROUND to integer only: 2-decimal inputs make the .5 boundary
          // exactly representable, so HALF_UP (Spark) and round-half-away
          // (DuckDB) agree; fractional ROUND would diverge on binary doubles.
          round(col("l_extendedprice")).as("price_round"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          signum(col("l_discount") - 0.05).cast("double").as("disc_sign"),
          (col("l_orderkey") % 7).as("key_mod"))
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  ABS(l_extendedprice - 30000) AS abs_delta,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        |  ROUND(l_extendedprice) AS price_round,
        |  SQRT(l_quantity) AS qty_sqrt,
        |  CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem WHERE l_orderkey % 97 = 0""".stripMargin)),

    Gate("q19_in_like_between", (s, dir) => {
      table(s, dir, "part")
        .filter(
          col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
          col("p_name").like("%red%") &&
          col("p_size").between(10, 40) &&
          col("p_retailprice").isNotNull)
        .select("p_partkey", "p_brand", "p_name", "p_size")
    }, Sql(
      """SELECT p_partkey, p_brand, p_name, p_size
        |FROM part
        |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND p_name LIKE '%red%'
        |  AND p_size BETWEEN 10 AND 40
        |  AND p_retailprice IS NOT NULL""".stripMargin)),

    Gate("q20_conditional_fns", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 101 === 0)
        .selectExpr(
          "l_orderkey", "l_linenumber",
          "nullif(l_tax, 0.0) AS tax_or_null",
          "coalesce(nullif(l_tax, 0.0), -1.0) AS tax_coalesced",
          "ifnull(nullif(l_returnflag, 'N'), 'none') AS flag_or_none",
          "CAST(l_quantity AS INT) AS qty_int")
    }, Sql(
      """SELECT l_orderkey, l_linenumber,
        |  NULLIF(l_tax, 0.0) AS tax_or_null,
        |  COALESCE(NULLIF(l_tax, 0.0), -1.0) AS tax_coalesced,
        |  IFNULL(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
        |  CAST(l_quantity AS INTEGER) AS qty_int
        |FROM lineitem WHERE l_orderkey % 101 = 0""".stripMargin)),

    Gate("q21_window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      table(s, dir, "orders")
        .filter(col("o_custkey") % 50 === 0)
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(38, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          rank().over(Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("price_rank"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS running_total,
        |  LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_order,
        |  CAST(RANK() OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank
        |FROM orders WHERE o_custkey % 50 = 0""".stripMargin)),

    Gate("q22_grouping_sets", (s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS qty
          |FROM graft_gs_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }, Sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${osum("l_quantity")} AS qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),

    Gate("q23_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      table(s, dir, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("brk",
          when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(
          (sum(col("brk")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }, Sql(
      """WITH t AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id, CAST(SUM(brk) + 1 AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM t GROUP BY user_id""".stripMargin)),

    // PIVOT (Spark superset; reference dialect has none) — wide per-status
    // counts/sums per returnflag.
    Gate("q32_pivot", (s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""SELECT l_returnflag,
         |  COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_n,
         |  CAST(SUM(CASE WHEN l_linestatus = 'F'
         |       THEN CAST(l_quantity AS DECIMAL(38,2)) END) AS DOUBLE) AS F_qty,
         |  COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_n,
         |  CAST(SUM(CASE WHEN l_linestatus = 'O'
         |       THEN CAST(l_quantity AS DECIMAL(38,2)) END) AS DOUBLE) AS O_qty
         |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // UNPIVOT via stack() — long-form (measure, value) rows.
    Gate("q33_unpivot", (s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_orderkey") % 191 === 0)
        .selectExpr("l_orderkey", "l_linenumber",
          "stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (measure, value)")
    }, Sql(
      """SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS value
        |FROM lineitem WHERE l_orderkey % 191 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price' AS measure, l_extendedprice AS value
        |FROM lineitem WHERE l_orderkey % 191 = 0""".stripMargin)),

    Gate("q25_setops", (s, dir) => {
      val c = table(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      rich.intersect(building).withColumn("op", lit("intersect"))
        .unionByName(rich.except(building).withColumn("op", lit("except")))
        .orderBy("op", "c_custkey")
    }, Sql(
      """SELECT c_custkey, 'intersect' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') a
        |UNION ALL
        |SELECT c_custkey, 'except' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') b""".stripMargin)),

    Gate("q26_dedup_keys", (s, dir) => {
      Dedup.keepFirst(
        table(s, dir, "lineitem"),
        keys = Seq("l_orderkey", "l_linenumber"),
        orderBy = Seq(col("l_partkey"), col("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }, Sql(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |                       ORDER BY l_partkey, l_suppkey) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1""".stripMargin)),

    // Tumbling-window aggregation — the Structured Streaming operator shape
    // run over the batch events table (window() is identical in both modes).
    Gate("q27_stream_window", (s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))
        .orderBy("ws", "event_type")
    }, Sql(
      s"""SELECT date_trunc('hour', ts) AS ws, event_type,
         |  COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin)),

    // SLIDING (hopping) window aggregation — polars group_by_dynamic
    // (every=1h, period=3h) / streaming hop windows: every event lands in
    // period/slide = 3 epoch-aligned windows; one explode-by-window
    // groupBy, the same shape Structured Streaming plans for hop windows.
    Gate("q34_hop_window", (s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"),
          col("total_value"))
        .orderBy("ws", "event_type")
    }, Sql(
      // q34: each event replicates into the 3 hourly-started windows that
      // contain it — epoch-aligned like Spark's window(ts, period, slide).
      s"""SELECT date_trunc('hour', ts) - (i * INTERVAL 1 HOUR) AS ws,
         |  event_type, COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM events, range(0, 3) t(i)
         |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // Analytic window functions beyond rank/lag: lead, ntile, percent_rank,
    // cume_dist, first_value — the remaining polars `over(...)` surface.
    // The rational-valued functions land on a 1e-6 integer grid (identical
    // IEEE division on identical integers both sides).
    Gate("q35_window_analytics", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      table(s, dir, "orders")
        .filter(col("o_custkey") % 50 === 0)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w) * 1000000).cast("long").as("pct_rank_ppm"),
          round(cume_dist().over(w) * 1000000).cast("long").as("cume_ppm"),
          first(col("o_orderkey"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_order"))
    }, Sql(
      """SELECT o_custkey, o_orderkey,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(round(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pct_rank_ppm,
        |  CAST(round(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_ppm,
        |  FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin)),

    // TIME-RANGE rolling aggregation (polars rolling_* / group_by_rolling):
    // per-user trailing 1-hour count and sum, RANGE frame over epoch-micros
    // so the window bound is exact integer arithmetic on both sides.
    Gate("q36_rolling_time", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      table(s, dir, "events")
        .filter(col("user_id") % 20 === 0)
        .select(
          col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast(DecimalType(38, 4))).over(w)
            .cast("double").as("sum_1h"))
    }, Sql(
      """SELECT user_id, event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events WHERE user_id % 20 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Native session-window aggregation (gap-merged event-time sessions).
    // Output times as epoch micros: both engines truncate ns identically.
    Gate("q29_session_window", (s, dir) => {
      table(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("total_value"))
        .select(
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("user_id"), col("n"), col("total_value"))
        .orderBy("user_id", "sess_start_us")
    }, Sql(
      s"""WITH t AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id)
         |         >= 1800000000 THEN 1 ELSE 0 END AS brk
         |  FROM events),
         |s AS (
         |  SELECT user_id, ts, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM t)
         |SELECT epoch_us(MIN(ts)) AS sess_start_us, user_id,
         |  COUNT(*) AS n, ${osum("value", 4)} AS total_value
         |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Mergeable DataSketches HLL: per-group sketches unioned into a global
    // estimate — the sketch algebra a 1000-executor rollup relies on.
    // Estimates are engine-specific → rows-only; ServerSpec bounds the error.
    Gate("q28_hll_union", (s, dir) => {
      val li = table(s, dir, "lineitem")
      li.groupBy("l_returnflag")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("distinct_parts_global"))
    }, RowsOnly("DataSketches HLL union", twin = "q09_distinct_agg")),

    // HLL-sketch distinct counts — estimates are engine-specific, so
    // rows-only check; OperatorsSpec asserts <5% error vs exact.
    Gate("q24_approx_distinct", (s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps"))
        .orderBy("l_returnflag")
    }, RowsOnly("HLL sketch estimate", twin = "q09_distinct_agg")),

    // Theta-sketch distinct SET ALGEBRA — the overlap questions HLL cannot
    // answer (intersection / A-not-B): viewers ∩ buyers, view-only mass,
    // union audience, from ONE pass + k-row set ops. Sketch-valued ->
    // rows-only; exact twin q34_overlap_exact is the oracle-checked truth
    // and ThetaSpec pins <2% error against it.
    Gate("q34_theta_overlap", (s, dir) => {
      import graft.functions.ThetaAgg
      val sk = table(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(ThetaAgg.sketch(col("user_id")).as("sk"))
      sk.agg(
          ThetaAgg.unionAgg(when(col("event_type") === "view", col("sk"))).as("sv"),
          ThetaAgg.unionAgg(when(col("event_type") === "purchase", col("sk"))).as("sp"),
          ThetaAgg.unionAgg(col("sk")).as("sall"))
        .select(
          round(ThetaAgg.estimate(col("sv"))).cast("long").as("viewers"),
          round(ThetaAgg.estimate(col("sp"))).cast("long").as("buyers"),
          round(ThetaAgg.intersectEstimate(col("sv"), col("sp"))).cast("long").as("both_vp"),
          round(ThetaAgg.aNotBEstimate(col("sv"), col("sp"))).cast("long").as("view_only"),
          round(ThetaAgg.estimate(col("sall"))).cast("long").as("all_users"))
    }, RowsOnly("Theta sketch estimates (engine-internal hashing)",
      twin = "q34_overlap_exact")),

    // Retention/overlap MATRIX: every pairwise segment overlap from ONE
    // scan (k sketches -> k^2 driver-side set algebra) — the dashboard the
    // exact path pays one self-join per question for. Sketch-valued ->
    // rows-only; exact twin retention_matrix_exact is the oracle.
    Gate("theta_retention_matrix", (s, dir) => {
      import graft.functions.ThetaAgg
      ThetaAgg.overlapMatrix(table(s, dir, "events"), "event_type", "user_id")
        .orderBy("g_a", "g_b")
    }, RowsOnly("Theta sketch estimates", twin = "retention_matrix_exact")),

    // Exact twin for the retention matrix: distinct (group, user) tags,
    // one equi-join on user for all co-occurring pairs, counts by flags.
    Gate("retention_matrix_exact", (s, dir) => {
      val d = table(s, dir, "events")
        .select(col("event_type").as("g"), col("user_id").as("u")).distinct()
      val c = d.groupBy("g").agg(count(lit(1)).as("n"))
      val p = d.select(col("g").as("g_a"), col("u"))
        .join(d.select(col("g").as("g_b"), col("u")), "u")
        .filter(col("g_a") < col("g_b"))
        .groupBy("g_a", "g_b").agg(count(lit(1)).as("both_ab"))
      p.join(c.select(col("g").as("g_a"), col("n").as("na")), "g_a")
        .join(c.select(col("g").as("g_b"), col("n").as("nb")), "g_b")
        .select(col("g_a"), col("g_b"),
          (col("na") - col("both_ab")).as("only_a"),
          (col("nb") - col("both_ab")).as("only_b"),
          col("both_ab"),
          (col("na") + col("nb") - col("both_ab")).as("union_ab"))
        .orderBy("g_a", "g_b")
    }, Sql(
      """WITH d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
        |c AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
        |p AS (SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS both_ab
        |      FROM d a JOIN d b ON a.u = b.u AND a.g < b.g GROUP BY 1, 2)
        |SELECT p.g_a, p.g_b,
        |  ca.n - p.both_ab AS only_a,
        |  cb.n - p.both_ab AS only_b,
        |  p.both_ab,
        |  ca.n + cb.n - p.both_ab AS union_ab
        |FROM p JOIN c ca ON ca.g = p.g_a JOIN c cb ON cb.g = p.g_b
        |ORDER BY 1, 2""".stripMargin)),

    // Exact twin for q34_theta_overlap: one distinct + one flag aggregate
    // computes every overlap count the sketches estimate.
    Gate("q34_overlap_exact", (s, dir) => {
      val tagged = table(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      tagged.agg(
        sum("v").cast("long").as("viewers"),
        sum("p").cast("long").as("buyers"),
        sum(col("v") * col("p")).cast("long").as("both_vp"),
        sum(col("v") * (lit(1) - col("p"))).cast("long").as("view_only"),
        count(lit(1)).cast("long").as("all_users"))
    }, Sql(
      """WITH tagged AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY user_id)
        |SELECT CAST(SUM(v) AS BIGINT) AS viewers,
        |  CAST(SUM(p) AS BIGINT) AS buyers,
        |  CAST(SUM(v * p) AS BIGINT) AS both_vp,
        |  CAST(SUM(v * (1 - p)) AS BIGINT) AS view_only,
        |  CAST(COUNT(*) AS BIGINT) AS all_users
        |FROM tagged""".stripMargin)),

    Gate("q30_corr_manual", (s, dir) => {
      // Pearson correlation from exact decimal moments: built-in corr() is
      // summation-order dependent; this formulation is reproducible anywhere.
      val li = table(s, dir, "lineitem")
      li.groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(38, 2))).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(DecimalType(38, 2))).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(38, 4)))
            .cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(38, 4)))
            .cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(38, 4)))
            .cast("double").as("syy"))
        .select(col("l_returnflag"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
        .orderBy("l_returnflag")
    }, Sql(
      s"""WITH m AS (
         |  SELECT l_returnflag,
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${osum("l_quantity")} AS sx,
         |    ${osum("l_extendedprice")} AS sy,
         |    ${osum("l_quantity*l_extendedprice", 4)} AS sxy,
         |    ${osum("l_quantity*l_quantity", 4)} AS sxx,
         |    ${osum("l_extendedprice*l_extendedprice", 4)} AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  (n*sxy - sx*sy) / (SQRT(n*sxx - sx*sx) * SQRT(n*syy - sy*sy))
         |    AS corr_qty_price
         |FROM m""".stripMargin)),

    Gate("q31_percentiles", (s, dir) => {
      table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"))
        .orderBy("o_orderstatus")
    }, Sql(
      """SELECT o_orderstatus,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    Gate("sql_via_catalog", (s, dir) => {
      val db = new Database(s)
      db.register("graft_orders", LakeDataset.fromDataFrame(s, table(s, dir, "orders")))
      db.executeSql(
        """SELECT o_orderstatus,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
          |FROM graft_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }, Sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n, ${osum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // Categorical dtype / global string cache (reference enable_string_cache,
    // src/server.rs:312): a persisted dictionary gives every table encoded
    // against it the same deterministic string->id mapping. The second table
    // encodes through a REOPENED cache, so the oracle also proves the
    // dictionary survives a save/load cycle.
    Gate("cat_encode", (s, dir) => {
      val root = Files.createTempDirectory("graft_cat").toString
      val c1 = StringCache.open(s, root)
      val seg = c1.encode(
          table(s, dir, "customer").select(col("c_mktsegment")), "c_mktsegment")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .select(lit("seg").as("src"), col("c_mktsegment").as("id"), col("n"))
      val c2 = StringCache.open(s, root) // fresh handle, state from disk
      val pri = c2.encode(
          table(s, dir, "orders").select(col("o_orderpriority")), "o_orderpriority")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .select(lit("pri").as("src"), col("o_orderpriority").as("id"), col("n"))
      seg.unionByName(pri).orderBy("src", "id")
    }, Sql(
      // The deterministic id assignment: first batch = row_number over sorted
      // distinct values; the second batch's UNSEEN values continue after the
      // current max id, again in sorted order.
      """WITH seg AS (SELECT DISTINCT c_mktsegment AS value FROM customer),
        |seg_id AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS id FROM seg),
        |pri AS (SELECT DISTINCT o_orderpriority AS value FROM orders),
        |pri_new AS (
        |  SELECT value FROM pri WHERE value NOT IN (SELECT value FROM seg_id)),
        |pri_id AS (
        |  SELECT value,
        |         (SELECT COUNT(*) FROM seg_id) + ROW_NUMBER() OVER (ORDER BY value) AS id
        |  FROM pri_new),
        |dict AS (SELECT * FROM seg_id UNION ALL SELECT * FROM pri_id)
        |SELECT 'seg' AS src, d.id AS id, COUNT(*) AS n
        |FROM customer c JOIN dict d ON c.c_mktsegment = d.value GROUP BY d.id
        |UNION ALL
        |SELECT 'pri' AS src, d.id AS id, COUNT(*) AS n
        |FROM orders o JOIN dict d ON o.o_orderpriority = d.value GROUP BY d.id
        |ORDER BY src, id""".stripMargin)),

    // Bucket pruning: an equality predicate on the bucket column scans only
    // the one matching bucket cell per partition (5x less data at 5 buckets).
    // As-of join (training-pipeline operator Spark lacks natively): every
    // event picks up the latest at-or-before budget snapshot of its user.
    // One shuffle+sort — no inequality-join blowup.
    Gate("asof_join", (s, dir) => {
      import graft.operators.Joins
      val ev = table(s, dir, "events")
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"), col("value").as("budget"))
      Joins.asofJoin(
          ev.select("event_id", "user_id", "ts", "value"),
          snaps, Seq("user_id"), "ts", "snap_ts", Seq("budget"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("budget"))
        .orderBy("event_id")
    }, Sql(
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts, value AS budget
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value, s.budget
        |FROM events e ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts""".stripMargin)),

    // As-of FORWARD (polars strategy="forward"): earliest snapshot
    // at-or-after each event — the same one-shuffle running-last plan over
    // descending time.
    Gate("asof_join_forward", (s, dir) => {
      import graft.operators.Joins
      val ev = table(s, dir, "events")
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"), col("value").as("budget"))
      Joins.asofJoin(
          ev.select("event_id", "user_id", "ts", "value"),
          snaps, Seq("user_id"), "ts", "snap_ts", Seq("budget"),
          strategy = "forward")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("budget"))
        .orderBy("event_id")
    }, Sql(
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts, value AS budget
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value, s.budget
        |FROM events e ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts <= s.snap_ts""".stripMargin)),

    // As-of NEAREST (polars strategy="nearest"): closer of the preceding
    // and following snapshots, ties to preceding — both candidate frames
    // ride ONE sorted shuffle.
    Gate("asof_join_nearest", (s, dir) => {
      import graft.operators.Joins
      val ev = table(s, dir, "events")
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"), col("value").as("budget"))
      Joins.asofJoin(
          ev.select("event_id", "user_id", "ts", "value"),
          snaps, Seq("user_id"), "ts", "snap_ts", Seq("budget"),
          strategy = "nearest")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("budget"))
        .orderBy("event_id")
    }, Sql(
      // nearest: both directed ASOFs, pick the closer, ties to preceding.
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts, value AS budget
        |  FROM events WHERE event_id % 10 = 0),
        |b AS (
        |  SELECT e.event_id, e.user_id, e.ts, e.value,
        |         s.snap_ts AS bts, s.budget AS bb
        |  FROM events e ASOF LEFT JOIN snaps s
        |    ON e.user_id = s.user_id AND e.ts >= s.snap_ts),
        |f AS (
        |  SELECT e.event_id, s.snap_ts AS fts, s.budget AS fb
        |  FROM events e ASOF LEFT JOIN snaps s
        |    ON e.user_id = s.user_id AND e.ts <= s.snap_ts)
        |SELECT b.event_id, b.user_id, epoch_us(b.ts) AS ts_us, b.value,
        |  CASE WHEN fts IS NULL THEN bb
        |       WHEN bts IS NULL THEN fb
        |       WHEN b.ts - bts <= fts - b.ts THEN bb ELSE fb END AS budget
        |FROM b JOIN f USING (event_id)""".stripMargin)),

    // As-of with TOLERANCE (polars tolerance=): a nearest-preceding
    // snapshot farther than 2 days is NO match — the whole payload nulls,
    // left rows survive.
    Gate("asof_join_tolerance", (s, dir) => {
      import graft.operators.Joins
      val ev = table(s, dir, "events")
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"), col("value").as("budget"))
      Joins.asofJoin(
          ev.select("event_id", "user_id", "ts", "value"),
          snaps, Seq("user_id"), "ts", "snap_ts", Seq("budget"),
          tolerance = Some(expr("INTERVAL 2 DAYS")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("budget"))
        .orderBy("event_id")
    }, Sql(
      // tolerance: ASOF already picked the NEAREST preceding snapshot, so
      // out-of-tolerance means no match at all — a CASE null is exact.
      """WITH snaps AS (
        |  SELECT user_id, ts AS snap_ts, value AS budget
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value,
        |  CASE WHEN e.ts - s.snap_ts <= INTERVAL 2 DAY THEN s.budget END AS budget
        |FROM events e ASOF LEFT JOIN snaps s
        |  ON e.user_id = s.user_id AND e.ts >= s.snap_ts""".stripMargin)),

    // Range join (grid-binned equi-join, not a nested-loop inequality join):
    // events matched to same-user value bands around budget snapshots.
    Gate("range_join", (s, dir) => {
      import graft.operators.Joins
      val ev = table(s, dir, "events")
      val bands = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id").as("snap_id"), col("user_id"),
          (col("value") - 10).as("lo"), (col("value") + 10).as("hi"))
      Joins.rangeJoin(
          ev.select("event_id", "user_id", "value"), "value",
          bands, "lo", "hi", keys = Seq("user_id"), binSize = 16L)
        .select("event_id", "snap_id", "user_id", "value", "lo", "hi")
        .orderBy("event_id", "snap_id")
    }, Sql(
      """WITH bands AS (
        |  SELECT event_id AS snap_id, user_id, value - 10 AS lo, value + 10 AS hi
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, b.snap_id, e.user_id, e.value, b.lo, b.hi
        |FROM events e JOIN bands b
        |  ON e.user_id = b.user_id AND e.value BETWEEN b.lo AND b.hi""".stripMargin)),

    // Time-series toolkit (TimeSeries.scala): polars upsample /
    // fill_null(forward) / interpolate / diff / rle parity over the events
    // stream, all on exact integer grids so DuckDB mirrors bit-for-bit.
    // Base series: per-(user, day) purchase value in 1e-4 ticks — sparse
    // (~13 purchases per user per month), so gaps are real.
    Gate("ts_upsample", (s, dir) => {
      graft.operators.TimeSeries.upsample(
          dailyPurchases(s, dir), "user_id", "day", 86400L)
        .select(col("user_id"), col("day"), col("v_ticks"),
          col("v_ticks").isNull.cast("long").as("is_gap"))
        .orderBy("user_id", "day")
    }, Sql(
      // ts_* family: shared obs/bounds/grid CTEs mirror dailyPurchases +
      // TimeSeries.upsample. DuckDB generate_series is inclusive like
      // Spark's sequence; v_ticks sums have exactly 4 decimals so *10000
      // casts are integral on both engines.
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id,
        |  UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds)
        |SELECT g.user_id, g.day, o.v_ticks,
        |  CAST(CASE WHEN o.v_ticks IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        |FROM grid g
        |LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day""".stripMargin)),

    Gate("ts_fill_forward", (s, dir) => {
      graft.operators.TimeSeries.fillForward(
          graft.operators.TimeSeries.upsample(
            dailyPurchases(s, dir), "user_id", "day", 86400L),
          "user_id", "day", Seq("v_ticks"))
        .select(col("user_id"), col("day"), col("v_ticks"))
        .orderBy("user_id", "day")
    }, Sql(
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id,
        |  UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds),
        |up AS (SELECT g.user_id, g.day, o.v_ticks FROM grid g
        |       LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day)
        |SELECT user_id, day,
        |  LAST_VALUE(v_ticks IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ticks
        |FROM up""".stripMargin)),

    Gate("ts_interpolate", (s, dir) => {
      graft.operators.TimeSeries.interpolateLinear(
          graft.operators.TimeSeries.upsample(
            dailyPurchases(s, dir), "user_id", "day", 86400L),
          "user_id", "day", "v_ticks")
        .select(col("user_id"), col("day"), col("v_ticks"))
        .orderBy("user_id", "day")
    }, Sql(
      // Interpolation arithmetic runs in DAY units here vs SECONDS in Spark:
      // floor(a*c / (b*c)) = floor(a/b), so scaling numerator and
      // denominator by 86400 cannot change the floor division's result.
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id,
        |  UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds),
        |up AS (SELECT g.user_id, g.day, o.v_ticks FROM grid g
        |       LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day),
        |anch AS (SELECT user_id, day, v_ticks,
        |    LAST_VALUE(v_ticks IGNORE NULLS) OVER w_back AS pv,
        |    LAST_VALUE(CASE WHEN v_ticks IS NOT NULL THEN
        |      date_diff('day', TIMESTAMP '2024-01-01', day) END IGNORE NULLS)
        |      OVER w_back AS pt,
        |    FIRST_VALUE(v_ticks IGNORE NULLS) OVER w_fwd AS nv,
        |    FIRST_VALUE(CASE WHEN v_ticks IS NOT NULL THEN
        |      date_diff('day', TIMESTAMP '2024-01-01', day) END IGNORE NULLS)
        |      OVER w_fwd AS nt,
        |    date_diff('day', TIMESTAMP '2024-01-01', day) AS t
        |  FROM up
        |  WINDOW w_back AS (PARTITION BY user_id ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         w_fwd AS (PARTITION BY user_id ORDER BY day
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CASE WHEN v_ticks IS NOT NULL THEN v_ticks
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |         pv + ((nv - pv) * (t - pt)
        |               - (((((nv - pv) * (t - pt)) % (nt - pt)) + (nt - pt)) % (nt - pt)))
        |              // (nt - pt)
        |  END AS v_ticks
        |FROM anch""".stripMargin)),

    Gate("ts_diff", (s, dir) => {
      graft.operators.TimeSeries.diffPct(
          dailyPurchases(s, dir), "user_id", "day", "v_ticks")
        .select(col("user_id"), col("day"), col("v_ticks"),
          col("diff"), col("pct_bps"))
        .orderBy("user_id", "day")
    }, Sql(
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |d AS (SELECT user_id, day, v_ticks,
        |    v_ticks - LAG(v_ticks) OVER w AS diff,
        |    LAG(v_ticks) OVER w AS prev
        |  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day, v_ticks, diff,
        |  CASE WHEN prev > 0 THEN
        |    (diff * 10000 - ((((diff * 10000) % prev) + prev) % prev)) // prev
        |  END AS pct_bps
        |FROM d""".stripMargin)),

    Gate("ts_ewma", (s, dir) => {
      graft.operators.TimeSeries.ewmaWindowed(
          dailyPurchases(s, dir), "user_id", "day", "v_ticks")
        .select(col("user_id"), col("day"), col("v_ticks"), col("ewma"))
        .orderBy("user_id", "day")
    }, Sql({
      // Weights (s−a)^k·s^(N−1−k) for α = 3/10, N = 8, generated with the
      // same integer fold as TimeSeries.ewmaWindowed; LAG-present terms only,
      // exact floor division via the portable pmod spelling.
      def pw(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((acc, _) => acc * b)
      val terms = (0 until 8).map { k =>
        val w = pw(7L, k) * pw(10L, 7 - k)
        val xk = if (k == 0) "v_ticks" else s"LAG(v_ticks, $k) OVER w"
        (s"CASE WHEN $xk IS NOT NULL THEN $xk * $w ELSE 0 END",
          s"CASE WHEN $xk IS NOT NULL THEN $w ELSE 0 END")
      }
      s"""WITH obs AS (
         |  SELECT user_id, date_trunc('day', ts) AS day,
         |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         |e AS (SELECT user_id, day, v_ticks,
         |    CAST(${terms.map(_._1).mkString(" + ")} AS BIGINT) AS num,
         |    CAST(${terms.map(_._2).mkString(" + ")} AS BIGINT) AS den
         |  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, v_ticks,
         |  CASE WHEN den > 0 THEN
         |    (num - (((num % den) + den) % den)) // den
         |  END AS ewma
         |FROM e""".stripMargin
    })),

    // Rolling anomaly flags: (x−μ)² > k²σ² over each user's trailing
    // 5-observation window as the exact integer predicate
    // kd²·(N·x−S1)² > kn²·(N·S2−S1²) — no sqrt, no float variance, so
    // the oracle reproduces every flag bit-for-bit in HUGEINT. Rows with
    // fewer than 5 prior observations emit NULL (don't-know, not normal).
    Gate("ts_anomaly", (s, dir) => {
      graft.operators.TimeSeries.anomalies(
          dailyPurchases(s, dir), "user_id", "day", "v_ticks",
          window = 5, kNum = 2, kDen = 1)
        .select(col("user_id"), col("day"), col("v_ticks"), col("anomaly"))
        .orderBy("user_id", "day")
    }, Sql(
      // kd=1, kn=2: flag ⇔ 1·(5·x − S1)² > 4·(5·S2 − S1²), every product in
      // HUGEINT — the identical integer predicate the engine evaluates in
      // Decimal(38,0).
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |win AS (SELECT user_id, day, v_ticks,
        |    COUNT(v_ticks) OVER w AS m,
        |    SUM(CAST(v_ticks AS HUGEINT)) OVER w AS s1,
        |    SUM(CAST(v_ticks AS HUGEINT) * CAST(v_ticks AS HUGEINT)) OVER w AS s2
        |  FROM obs
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, day, v_ticks,
        |  CASE WHEN v_ticks IS NULL OR m < 5 THEN NULL
        |       ELSE (5*v_ticks - s1)*(5*v_ticks - s1) > 4*(5*s2 - s1*s1) END
        |    AS anomaly
        |FROM win""".stripMargin)),

    // Batch sessionization — the relational twin of stream_session_window
    // (same gap semantics, same oracle shape, no state store): 30-minute
    // gap sessions over each user's event stream.
    Gate("ts_sessions", (s, dir) => {
      graft.operators.TimeSeries.sessions(
          table(s, dir, "events"), "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_id"), col("session_start"),
          col("session_end"), col("n_events"))
        .orderBy("user_id", "session_id")
    }, Sql(
      """WITH flg AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS newses
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |runs AS (
        |  SELECT user_id, ts,
        |    SUM(newses) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flg)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM runs GROUP BY user_id, session_id""".stripMargin)),

    Gate("ts_rle", (s, dir) => {
      graft.operators.TimeSeries.rle(
          table(s, dir, "events"), "user_id", Seq("ts", "event_id"), "event_type")
        .select(col("user_id"), col("run_id"), col("value"),
          col("run_len"), col("run_start"))
        .orderBy("user_id", "run_id")
    }, Sql(
      """WITH flg AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM flg)
        |SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        |  MIN(event_type) AS value, COUNT(*) AS run_len, MIN(ts) AS run_start
        |FROM runs GROUP BY user_id, run_id""".stripMargin)),

    Gate("bucket_numeric", (s, dir) => {
      val li = table(s, dir, "lineitem")
      li.groupBy(Bucketing.bucketExprFor(li, "l_partkey", 5).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }, Sql(
      """SELECT CAST(l_partkey % 5 AS INTEGER) AS bucket, COUNT(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // String bucketing uses xxhash64 — not reproducible in DuckDB, so no
    // oracle (rows-only check). Asserts stay in BucketingSpec.
    Gate("bucket_string", (s, dir) => {
      val li = table(s, dir, "lineitem")
      li.groupBy(Bucketing.bucketExprFor(li, "l_linestatus", 5).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }, RowsOnly("xxhash64 string bucketing", twin = "bucket_numeric"))
  )
}
