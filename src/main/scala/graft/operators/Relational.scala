package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{GraftQuery, OracleSql}
import graft.sources.Tables

/** First-class relational operator layer.
  *
  * The reference (osteotek/yamr) has no relational algebra — every filter /
  * join / aggregate is user code inside the generic map/reduce surface
  * (mapper.py:112-122, reducer.py:131-139; SURVEY.md §2.5-2.9 "SUBSUMED").
  * Here each category is a declared, oracle-verified DataFrame operator.
  *
  * Determinism contract with the DuckDB oracle:
  *   - Every float aggregate is computed over DECIMAL(18,2)-cast inputs
  *     (exact, order-independent — immune to Spark partial-agg reordering)
  *     and CAST to DOUBLE at the end, in both engines.
  *   - Every query ends in an ORDER BY on a unique key set.
  *   - Timestamps are emitted as epoch-second BIGINTs, dates as DATE.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Exact decimal sum emitted as double: matches
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)` in DuckDB. */
  private def sumd2(c: Column): Column = sum(dec2(c)).cast("double")

  // ---------------------------------------------------------------- q01
  // Aggregation: SUM/COUNT + computed measures with partial aggregation
  // (reference analog: per-key sum, word_count.py:61-63 — here with
  // Spark's map-side partial agg the reference lacks, SURVEY §2.4).
  private val q01 = GraftQuery(
    "q01_agg_pricing",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("date"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd2(col("l_quantity")).as("sum_qty"),
          sumd2(col("l_extendedprice")).as("sum_base"),
          sum(dec2(col("l_extendedprice")) * dec2(lit(1.0) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) *
              dec4((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
            .cast("double").as("sum_charge"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
             COUNT(*) AS cnt
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q02
  // Filter + projection (reference analog: predicates inside map UDFs,
  // word_count.py:13-20 — here declarative, pushed to the parquet scan).
  private val q02 = GraftQuery(
    "q02_filter_project",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
      WHERE l_quantity > 45 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q03
  // Multi-way inner join (ABSENT in reference, SURVEY §2.5): fact-fact join
  // shuffles on the key; dimension joins broadcast (nation is tiny at any
  // scale; customer broadcast is left to AQE's size estimate).
  private val q03 = GraftQuery(
    "q03_join_inner",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date"))
      val li = Tables.lineitem(s, dir)
      val nat = Tables.nation(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec2(col("l_extendedprice")) * dec2(lit(1.0) - col("l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY n_name"""))

  // ---------------------------------------------------------------- q04
  // Left outer join + agg over nullable side.
  private val q04 = GraftQuery(
    "q04_join_left",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec2(col("o_totalprice"))), lit(0)).cast("double").as("spend"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q04b
  // Right outer join (SURVEY §2.5) — declared in its own right, not just
  // as the mirror of q04: the preserved side is the RIGHT (customer)
  // input of an orders-first join.
  private val q04b = GraftQuery(
    "q04b_join_right",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "O")
      ord.join(cust, col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_open"),
          coalesce(sum(dec2(col("o_totalprice"))), lit(0)).cast("double").as("open_spend"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_open,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS open_spend
      FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o
      RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_mktsegment
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q05
  // Left-semi join (SQL: IN / EXISTS).
  private val q05 = GraftQuery(
    "q05_join_semi",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val fOrders = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      cust.join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q06
  // Left-anti join (SQL: NOT EXISTS).
  private val q06 = GraftQuery(
    "q06_join_anti",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val pOrders = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      cust.join(pOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q07
  // Full outer join of two aggregated sides.
  private val q07 = GraftQuery(
    "q07_join_full",
    (s, dir) => {
      val custN = Tables.customer(s, dir)
        .filter(col("c_nationkey") < 10)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val suppN = Tables.supplier(s, dir)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      custN.join(suppN, col("nk") === col("snk"), "full")
        .select(
          coalesce(col("nk"), col("snk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0)).as("n_cust"),
          coalesce(col("n_supp"), lit(0)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""
      SELECT COALESCE(c.nk, s.snk) AS nationkey,
             COALESCE(c.n_cust, 0) AS n_cust,
             COALESCE(s.n_supp, 0) AS n_supp
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
            WHERE c_nationkey < 10 GROUP BY c_nationkey) c
      FULL OUTER JOIN (SELECT s_nationkey AS snk, COUNT(*) AS n_supp
                       FROM supplier GROUP BY s_nationkey) s
        ON c.nk = s.snk
      ORDER BY nationkey"""))

  // ---------------------------------------------------------------- q08
  // Cross join (tiny dims only; at scale this is always a broadcast NL).
  private val q08 = GraftQuery(
    "q08_join_cross",
    (s, dir) => {
      val r = Tables.region(s, dir).select(col("r_name"))
      val n = Tables.nation(s, dir).select(col("n_name"))
      r.crossJoin(broadcast(n)).orderBy(col("r_name"), col("n_name"))
    },
    Some("""
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""))

  // ---------------------------------------------------------------- q09
  // Window: row_number / rank top-k per group (ABSENT in reference,
  // SURVEY §2.6).
  private val q09 = GraftQuery(
    "q09_window_topk",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""))

  // ---------------------------------------------------------------- q10
  // Window: running aggregate (frame spec), exact via decimal.
  private val q10 = GraftQuery(
    "q10_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("running_spend", sum(dec2(col("o_totalprice"))).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q11
  // Window: lag/lead navigation over event sequences.
  private val q11 = GraftQuery(
    "q11_window_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .select(col("user_id"), col("event_id"), col("value"),
          col("prev_value"), col("next_type"), col("delta"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id, value,
             LAG(value)  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type,
             value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
      FROM events
      ORDER BY user_id, event_id"""))

  // ---------------------------------------------------------------- q12
  // Global sort + limit: Spark plans TakeOrderedAndProject (no full sort
  // at scale). Reference has no global sort (SURVEY §2.7).
  private val q12 = GraftQuery(
    "q12_sort_limit",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 10"""))

  // ------------------------------------------------------- q13/q14/q15
  // Set operations (ABSENT in reference, SURVEY §2.8).
  private def segA(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
  private def segB(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"))

  private val q13 = GraftQuery(
    "q13_set_union",
    (s, dir) => segA(s, dir).union(segB(s, dir)).distinct().orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      ORDER BY c_custkey"""))

  private val q14 = GraftQuery(
    "q14_set_intersect",
    (s, dir) => segA(s, dir).intersect(segB(s, dir)).orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      ORDER BY c_custkey"""))

  private val q15 = GraftQuery(
    "q15_set_except",
    (s, dir) => segA(s, dir).except(segB(s, dir)).orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------------- q16
  // DISTINCT (dedup on a key subset).
  private val q16 = GraftQuery(
    "q16_distinct",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q17
  // Scalar string functions (reference analog: tokenize/strip/lower,
  // word_count.py:16-20; here the full built-in codegen'd set).
  private val q17 = GraftQuery(
    "q17_scalar_string",
    (s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
          trim(col("p_name")).as("name_trim"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             upper(p_brand) AS brand_u,
             lower(p_type) AS type_l,
             substr(p_name, 1, 5) AS name_pfx,
             CAST(length(p_name) AS INT) AS name_len,
             p_brand || '/' || p_type AS brand_type,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
             trim(p_name) AS name_trim
      FROM part
      ORDER BY p_partkey"""))

  // ---------------------------------------------------------------- q18
  // Scalar date/time functions (reference analog: year extraction,
  // max_year_temp.py:21-22).
  private val q18 = GraftQuery(
    "q18_scalar_date",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          weekday(col("o_orderdate")).as("wd"),
          unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start_epoch"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(day(o_orderdate) AS INT) AS d,
             CAST(isodow(o_orderdate) - 1 AS INT) AS wd,
             CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
             CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
             last_day(CAST(o_orderdate AS DATE)) AS month_end
      FROM orders
      ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q19
  // Scalar math functions (IEEE-exact subset: no libm-dependent ln/exp).
  private val q19 = GraftQuery(
    "q19_scalar_math",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_extendedprice") - 50000.0).as("abs_delta"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_quantity") / 3.0).as("qty_ceil3"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          (col("l_partkey") % 7).as("pk_mod7"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          greatest(col("l_discount"), col("l_tax")).as("max_rate"),
          least(col("l_discount"), col("l_tax")).as("min_rate"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber,
             abs(l_extendedprice - 50000.0) AS abs_delta,
             CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
             CAST(ceil(l_quantity / 3.0) AS BIGINT) AS qty_ceil3,
             sqrt(l_extendedprice) AS price_sqrt,
             l_partkey % 7 AS pk_mod7,
             l_quantity * l_quantity AS qty_sq,
             greatest(l_discount, l_tax) AS max_rate,
             least(l_discount, l_tax) AS min_rate
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q20
  // JSON extraction (reference analog: json.loads at source boundary,
  // max_year_temp.py:19; here codegen'd get_json_object on events.props).
  private val q20 = GraftQuery(
    "q20_json_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("sum_k"),
          count(col("k")).as("n"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  // ---------------------------------------------------------------- q21
  // ROLLUP / grouping sets with grouping() markers.
  private val q21 = GraftQuery(
    "q21_rollup",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sumd2(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("cnt"), col("sum_qty"),
          col("g_rf").cast("int").as("g_rf"),
          col("g_ls").cast("int").as("g_ls"))
        .orderBy(col("rf"), col("ls")),
    Some("""
      SELECT COALESCE(l_returnflag, '(all)') AS rf,
             COALESCE(l_linestatus, '(all)') AS ls,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  // ---------------------------------------------------------------- q22
  // Subqueries: scalar subquery (avg spend) + IN-list semi join.
  private val q22 = GraftQuery(
    "q22_subquery",
    (s, dir) => {
      val ord = Tables.orders(s, dir)
      val avgSpend = ord.agg(
        (sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_spend"))
      val bigSegCust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
      ord.join(broadcast(avgSpend))
        .filter(col("o_totalprice") > col("avg_spend"))
        .join(bigSegCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q23
  // Range join (equi + interval predicate): lineitems shipped within 60
  // days of their order's date. Equi key keeps it a hash/SMJ, not NL.
  private val q23 = GraftQuery(
    "q23_range_join",
    (s, dir) => {
      val ord = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      li.join(ord,
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= date_add(col("o_orderdate").cast("date"), 60)
            .cast("timestamp"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_fast_items"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, COUNT(*) AS n_fast_items
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate <= CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      GROUP BY o_orderkey
      ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q24
  // As-of join (ABSENT in both reference and Spark SQL; composed from
  // join + window per SURVEY §7.4 preference (a)): each click event joined
  // to the user's most recent prior purchase event.
  private val q24 = GraftQuery(
    "q24_asof_join",
    (s, dir) => {
      // Union both event streams and carry the latest purchase forward with
      // one running `last(ignoreNulls)` window — one shuffle on user_id,
      // O(1) state per row. (A join-then-rank shape materializes
      // clicks × all-prior-purchases per user before pruning: a per-hot-user
      // fanout bomb at scale.) At equal ts a purchase sorts BEFORE the
      // click (kind 0 < 1) so `ts >= p_ts` stays inclusive; among equal-ts
      // purchases the max event_id wins (event_id asc, running last).
      // The purchase columns ride in one struct so the running last() picks
      // an atomic row, never fields from different purchases.
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("kind"),
          lit(null).cast("struct<pid:bigint,pvalue:double>").as("p"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("kind"),
          struct(col("event_id").as("pid"), col("value").as("pvalue")).as("p"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("lp", last(col("p"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"),
          col("lp.pid").as("purchase_event_id"),
          col("lp.pvalue").as("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT e.event_id, e.user_id,
             p.event_id AS purchase_event_id,
             p.value AS purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'click') e
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id"""))

  // ---------------------------------------------------------------- q25
  // CUBE (grouping sets over 2 dims).
  private val q25 = GraftQuery(
    "q25_cube",
    (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("st"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("pri"),
          col("cnt"))
        .orderBy(col("st"), col("pri")),
    Some("""
      SELECT COALESCE(o_orderstatus, '(all)') AS st,
             COALESCE(o_orderpriority, '(all)') AS pri,
             COUNT(*) AS cnt
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY st, pri"""))

  // ---------------------------------------------------------------- q26
  // MIN/MAX/countDistinct aggregates (max analog: max_year_temp.py:63-65).
  private val q26 = GraftQuery(
    "q26_agg_minmax",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          countDistinct(col("o_custkey")).as("n_cust"),
          min(col("o_orderdate").cast("date")).as("first_order"),
          max(col("o_orderdate").cast("date")).as("last_order"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             COUNT(DISTINCT o_custkey) AS n_cust,
             MIN(CAST(o_orderdate AS DATE)) AS first_order,
             MAX(CAST(o_orderdate AS DATE)) AS last_order
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q27
  // Scalar array functions over the token array (ABSENT in reference
  // beyond JSON array indexing, max_year_temp.py:20-22).
  private val q27 = GraftQuery(
    "q27_scalar_array",
    (s, dir) => {
      val t = col("t")
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .select(
          col("doc_id"),
          size(t).as("n"),
          element_at(t, 1).as("first_tok"),
          element_at(t, -1).as("last_tok"),
          array_join(slice(t, 1, 3), " ").as("prefix3"),
          array_contains(t, "the").as("has_the"),
          size(array_distinct(t)).as("n_distinct"),
          element_at(array_sort(t), 1).as("min_tok"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
             CAST(len(t) AS INT) AS n,
             t[1] AS first_tok,
             t[-1] AS last_tok,
             array_to_string(t[1:3], ' ') AS prefix3,
             list_contains(t, 'the') AS has_the,
             CAST(len(list_distinct(t)) AS INT) AS n_distinct,
             list_sort(t)[1] AS min_tok
      FROM (SELECT doc_id,
                   ${OracleSql.tokens("text")} AS t
            FROM documents) d
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q28
  // Scalar map functions: JSON props parsed into MapType, key/value ops.
  private val q28 = GraftQuery(
    "q28_scalar_map",
    (s, dir) => {
      val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      Tables.events(s, dir)
        .select(
          col("event_id"),
          size(map_keys(m)).as("n_keys"),
          array_join(array_sort(map_keys(m)), ",").as("keys_sorted"),
          element_at(m, "k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             CAST(len(json_keys(props)) AS INT) AS n_keys,
             array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events
      ORDER BY event_id"""))

  // ---------------------------------------------------------------- q55
  // Statistical aggregates computed from exact decimal moments (Σx, Σx²,
  // Σxy), then combined in double with the textbook formulas — engine
  // built-ins (stddev/corr) stream floats in nondeterministic order and
  // cannot bit-match across engines; moment sums can.
  //
  // The moment-to-double conversion must itself be cross-engine
  // deterministic: once a decimal sum exceeds 2^53 scaled units (Σp² does
  // at sf0.001 already), Spark's decimal→double cast and DuckDB's round
  // the SAME exact decimal to DIFFERENT neighboring doubles. So the
  // decimal is split into integral + fractional parts, each converted
  // through BIGINT (int64→double is IEEE round-to-nearest-even in both
  // engines), and recombined with two IEEE ops — bit-identical at any
  // magnitude the integral part's BIGINT can hold (9.2e18).
  private def decSplitDouble(c: Column, scale: Int): Column = {
    val w = floor(c)
    w.cast("long").cast("double") +
      ((c - w) * lit(scale)).cast("long").cast("double") / lit(scale.toDouble)
  }
  private def momentSql(expr: String, alias: String, scale: Int): String =
    s"""CAST(CAST(FLOOR($expr) AS BIGINT) AS DOUBLE) +
        CAST(CAST(($expr - FLOOR($expr)) * $scale AS BIGINT) AS DOUBLE) / $scale.0 AS $alias"""
  private val q55 = GraftQuery(
    "q55_agg_stats",
    (s, dir) => {
      val q = col("l_quantity")
      val p = col("l_extendedprice")
      val agg = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          decSplitDouble(sum(dec2(q)), 100).as("sq"),
          decSplitDouble(sum(dec4(q * q)), 10000).as("sqq"),
          decSplitDouble(sum(dec2(p)), 100).as("sp"),
          decSplitDouble(sum(dec4(p * p)), 10000).as("spp"),
          decSplitDouble(sum(dec4(q * p)), 10000).as("sqp"))
      agg.select(
          col("l_returnflag"), col("n"),
          ((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1))
            .as("var_qty"),
          sqrt((col("spp") - col("sp") * col("sp") / col("n")) / (col("n") - 1))
            .as("std_price"),
          ((col("sqp") - col("sq") * col("sp") / col("n")) /
            (sqrt(col("sqq") - col("sq") * col("sq") / col("n")) *
             sqrt(col("spp") - col("sp") * col("sp") / col("n")))).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""
      WITH s AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dsq,
               SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS dsqq,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS dsp,
               SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS dspp,
               SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS dsqp
        FROM lineitem GROUP BY l_returnflag),
      m AS (
        SELECT l_returnflag, n,
               ${momentSql("dsq", "sq", 100)},
               ${momentSql("dsqq", "sqq", 10000)},
               ${momentSql("dsp", "sp", 100)},
               ${momentSql("dspp", "spp", 10000)},
               ${momentSql("dsqp", "sqp", 10000)}
        FROM s)
      SELECT l_returnflag, n,
             (sqq - sq * sq / n) / (n - 1) AS var_qty,
             sqrt((spp - sp * sp / n) / (n - 1)) AS std_price,
             (sqp - sq * sp / n) /
               (sqrt(sqq - sq * sq / n) * sqrt(spp - sp * sp / n)) AS corr_qty_price
      FROM m
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q29
  // Generator / UDTF surface: one row in → N (pos, value) rows out
  // (posexplode — the relational form of the reference's 1-chunk→N-tuples
  // map contract, mapper.py:112-122).
  private val q29 = GraftQuery(
    "q29_posexplode",
    (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "token")))
        .orderBy(col("doc_id"), col("pos")),
    Some(s"""
      SELECT doc_id,
             CAST(generate_subscripts(t, 1) - 1 AS INT) AS pos,
             unnest(t) AS token
      FROM (SELECT doc_id,
                   ${OracleSql.tokens("text")} AS t
            FROM documents WHERE doc_id < 50) d
      ORDER BY doc_id, pos"""))

  // ---------------------------------------------------------------- q2a
  // Pivot: wide conditional aggregation (docs per source × lang).
  private val q2a = GraftQuery(
    "q2a_pivot",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("source")),
    Some("""
      SELECT source,
             CAST(COUNT(*) FILTER (lang = 'de') AS BIGINT) AS de,
             CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS en,
             CAST(COUNT(*) FILTER (lang = 'es') AS BIGINT) AS es,
             CAST(COUNT(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
             CAST(COUNT(*) FILTER (lang = 'zh') AS BIGINT) AS zh
      FROM documents
      GROUP BY source
      ORDER BY source"""))

  // ---------------------------------------------------------------- q2b
  // Unpivot (melt): wide → long.
  private val q2b = GraftQuery(
    "q2b_unpivot",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sumd2(col("l_quantity")).as("qty"),
          sumd2(col("l_discount")).as("disc"))
        .unpivot(Array(col("l_returnflag")), Array(col("qty"), col("disc")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure")),
    Some("""
      WITH agg AS (SELECT l_returnflag,
                          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
                          CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
                   FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'qty' AS measure, qty AS value FROM agg
      UNION ALL
      SELECT l_returnflag, 'disc' AS measure, disc AS value FROM agg
      ORDER BY l_returnflag, measure"""))

  // ---------------------------------------------------------------- q59
  // GROUPING SETS in its general form — ((a),(b),()) is NOT a rollup or
  // cube special case (rollup q21 / cube q25 cover those): one Expand
  // emits the per-flag, per-status, and grand-total groups in a single
  // pass over the scan instead of three separate aggregations unioned.
  private val q59 = GraftQuery(
    "q59_grouping_sets",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sumd2(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("cnt"), col("sum_qty"), col("g_rf"), col("g_ls"))
        .orderBy(col("rf"), col("ls")),
    Some("""
      SELECT COALESCE(l_returnflag, '(all)') AS rf,
             COALESCE(l_linestatus, '(all)') AS ls,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls"""))

  // ---------------------------------------------------------------- q72
  // Array aggregation (collect_set) made deterministic: Spark collects in
  // partition-arrival order, so the set is sorted before emission and
  // joined to a scalar string (the driver's value compare is
  // row-scalar-based; engine array formatting differs). Shuffle volume is
  // O(groups × distinct values) — bounded here by design; unbounded
  // collect at scale belongs in explode-side processing instead.
  private val q72 = GraftQuery(
    "q72_array_agg",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
             COUNT(DISTINCT l_linestatus) AS n_statuses
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  val all: Seq[GraftQuery] = Seq(
    q01, q02, q03, q04, q04b, q05, q06, q07, q08, q09, q10, q11, q12, q13,
    q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27,
    q28, q29, q2a, q2b, q55, q59, q72)
}
