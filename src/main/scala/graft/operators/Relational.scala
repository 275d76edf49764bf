package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{OpQuery, Tables}
import graft.OpQuery.sql

/** The relational operator surface (SURVEY.md §2.4–§2.8): joins of every
  * flavor, aggregations, windows, set ops, scalar/date/string/json
  * functions — expressed declaratively so Catalyst handles pushdown,
  * pruning, join strategy (broadcast for dims, sort-merge/shuffled-hash for
  * facts via AQE) and whole-stage codegen.
  *
  * Scale notes applied throughout:
  *  - join strategy for dims: region/nation are FIXED-size (5/25 rows)
  *    and may carry broadcast hints; customer/supplier/part SCALE with
  *    the data volume (TPC-H SF-linear — multi-TB at the 100 TB point),
  *    so their joins carry NO hint — AQE broadcast-converts them while
  *    they are genuinely small and degrades to a keyed shuffle join at
  *    scale, instead of an unconditional driver-side collect;
  *  - aggregates go through partial (map-side) aggregation automatically;
  *  - window functions partition by high-cardinality keys; no global
  *    (unpartitioned) windows;
  *  - money sums go through an exact-decimal accumulator (see [[moneySum]])
  *    so results are bit-reproducible regardless of partition count or
  *    aggregation order — double sums are order-dependent in the last ulp,
  *    which both breaks oracle comparison and makes reruns non-reproducible
  *    at 1000-executor scale.
  */
object Relational {

  /** revenue term: extendedprice * (1 - discount) */
  private def disc: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Order-insensitive exact sum of a money-like double column: cast each
    * row to DECIMAL (exact, associative) before summing, and return DOUBLE.
    * `scale` must cover the true decimal scale of the input (2 for prices,
    * 4 for price*(1-discount) products) so the per-row cast is exact.
    */
  private def moneySum(c: Column, scale: Int = 2): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, scale))).cast("double")

  /** Matching DuckDB SQL for [[moneySum]]. */
  private def moneySumSql(expr: String, scale: Int = 2): String =
    s"CAST(sum(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  def registry: Seq[OpQuery] = Seq(

    // ---- aggregation family (SURVEY §2.6) --------------------------------
    sql("q01_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
        |  ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  ${moneySumSql("l_discount")} / count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact in any order
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(disc, 4).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (moneySum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ---- filter + projection, pushdown to the scan (SURVEY §2.2) ---------
    // Per-row arithmetic on doubles is bit-identical across engines — no
    // rounding needed (and rounding would introduce half-even/half-up skew).
    sql("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity < 5
        |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") < 5 &&
          col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          disc.as("net_price"))
    },

    // ---- multi-way join: dim filter → fact join (SURVEY §2.4 J1) ---------
    sql("q03_revenue_by_order",
      s"""SELECT o_orderkey, ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |HAVING sum(l_quantity) > 150""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      Tables.orders(s, d)
        .join(cust, Seq("o_custkey")) // customer is SF-scaling: no hint
        .select(col("o_orderkey").as("l_orderkey"))
        .join(Tables.lineitem(s, d), Seq("l_orderkey"))
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(moneySum(disc, 4).as("revenue"),
          sum(col("l_quantity")).as("__qty"))
        .filter(col("__qty") > 150)
        .select(col("o_orderkey"), col("revenue"))
    },

    // ---- star join region→nation→customer→orders→lineitem⋈supplier -------
    sql("q04_revenue_by_nation",
      s"""SELECT n_name, ${moneySumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name IN ('ASIA', 'AMERICA')
        |GROUP BY n_name""".stripMargin) { (s, d) =>
      val dim = Tables.region(s, d).filter(col("r_name").isin("ASIA", "AMERICA"))
        .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"), col("n_name"))
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      // dim embeds customer and supp IS supplier — both SF-scaling: no
      // hints (region/nation alone would broadcast, but the customer join
      // dominates the dim's size)
      Tables.orders(s, d)
        .join(dim, Seq("o_custkey"))
        .select(col("o_orderkey").as("l_orderkey"), col("c_nationkey"), col("n_name"))
        .join(Tables.lineitem(s, d), Seq("l_orderkey"))
        .join(supp, Seq("l_suppkey"))
        .filter(col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(moneySum(disc, 4).as("revenue"))
    },

    // ---- broadcast dim join + agg (SURVEY §2.4 J1/J3) --------------------
    sql("q05_parts_by_brand",
      s"""SELECT p_brand, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  ${moneySumSql("l_extendedprice")} / count(*) AS avg_price
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d) // part is SF-scaling: no hint, AQE decides
        .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_lines"),
          (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"))
    },

    // ---- semi join = EXISTS (SURVEY §2.4/§2.5 D2) ------------------------
    sql("q06_semi_join",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
          .select(col("l_orderkey").as("o_orderkey")),
          Seq("o_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ---- anti join = NOT EXISTS (dead-letter routing pattern) ------------
    sql("q07_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // ---- exact distinct (SURVEY §2.5) ------------------------------------
    sql("q08_distinct",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, d) =>
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")).distinct()
    },

    // ---- first-wins dedup via ranking window (SURVEY §2.5 D1) ------------
    // The reference's Set-based dedup keeps the FIRST subtable row per key
    // (makeRouter.js:86,99-101,127); `dropDuplicates` is shuffle-
    // nondeterministic, so the faithful form is a row_number window with a
    // TOTAL order (l_linenumber repeats within an order in this data, so
    // the tiebreak chain matters).
    sql("q09_first_wins_dedup",
      """SELECT l_orderkey, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_partkey, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem) t WHERE rn = 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      Tables.lineitem(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    },

    // ---- ranking window, top-n per group (SURVEY §2.7) -------------------
    sql("q10_rank_per_customer",
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    },

    // ---- running aggregate window (SURVEY §2.7) --------------------------
    // Window sums run in frame order on both engines → bit-identical; no
    // rounding needed.
    sql("q11_running_sum",
      """SELECT event_id, user_id,
        |  SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          sum(col("value")).over(w).as("running_value"))
    },

    // ---- lag/lead with null default (SURVEY §2.7, C9) --------------------
    sql("q12_lag_delta",
      """SELECT event_id, user_id, value,
        |  coalesce(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |           0.0) AS delta
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          coalesce(col("value") - lag(col("value"), 1).over(w), lit(0.0)).as("delta"))
    },

    // ---- global top-k = TakeOrderedAndProject (SURVEY §2.7) --------------
    sql("q13_topk_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- set ops (SURVEY §2.5) -------------------------------------------
    sql("q14_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
    },

    sql("q15_except",
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("custkey"))
        .except(Tables.orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("custkey")))
    },

    // ---- rollup / cube (SURVEY §2.6 extensions) --------------------------
    sql("q16_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    },

    sql("q17_cube",
      s"""SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS cnt, ${moneySumSql("o_totalprice")} AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("sum_price"))
    },

    // ---- grouping sets (SURVEY §2.6) -------------------------------------
    sql("q18_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
    },

    // ---- distinct aggregates (SURVEY §2.6) -------------------------------
    sql("q19_distinct_agg",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supps,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"),
          count(lit(1)).as("cnt"))
    },

    // ---- conditional aggregation = the A2/A3 counter pivot shape ---------
    sql("q20_conditional_agg",
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      def n(status: String) =
        sum(when(col("o_orderstatus") === status, 1L).otherwise(0L))
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(n("F").as("n_f"), n("O").as("n_o"), n("P").as("n_p"))
    },

    // ---- pivot with explicit value list (SURVEY §2.6 A2) -----------------
    sql("q21_pivot_events",
      """SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
    },

    // ---- string scalar functions (SURVEY §2.8 C1-C5) ---------------------
    sql("q22_string_funcs",
      """SELECT c_custkey,
        |  upper(c_name) AS name_upper,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked
        |FROM customer""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("seg_nation"),
        length(col("c_name")).cast("long").as("name_len"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"))
    },

    // ---- date functions (SURVEY §2.8 extension) --------------------------
    sql("q23_date_funcs",
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  ${moneySumSql("o_totalprice")} AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) >= 1994
        |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(year(col("o_orderdate")) >= 1994)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("sum_price"))
    },

    // ---- json extraction (SURVEY §2.8 C10: from_json/get_json_object) ----
    sql("q24_json_extract",
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
    },

    // ---- explode/unnest = the F1 subtable flatten (SURVEY §2.3) ----------
    sql("q25_token_explode",
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token HAVING count(*) > 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 20)
    },

    // ---- having over exact integral-double sums (SURVEY §2.6) ------------
    sql("q26_having",
      s"""SELECT l_suppkey, sum(l_quantity) AS sum_qty,
        |  ${moneySumSql("l_extendedprice")} AS sum_price
        |FROM lineitem GROUP BY l_suppkey HAVING sum(l_quantity) > 3000""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .filter(col("sum_qty") > 3000)
    },

    // ---- scalar subquery via broadcast of a 1-row aggregate --------------
    // No collect(): the average is a 1-row DataFrame broadcast-cross-joined,
    // so the plan stays fully distributed. Exact-decimal sum keeps the
    // threshold identical across engines.
    sql("q27_scalar_subquery",
      s"""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT ${moneySumSql("o_totalprice")} / count(*) FROM orders)""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val avgPrice = o.agg((moneySum(col("o_totalprice")) / count(lit(1))).as("__avg"))
      o.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > lit(1.5) * col("__avg"))
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ---- outer join + agg (SURVEY §2.4 extension) ------------------------
    sql("q28_left_join_agg",
      s"""SELECT n_name, CAST(count(s_suppkey) AS BIGINT) AS n_suppliers,
        |  coalesce(${moneySumSql("s_acctbal")}, 0.0) AS total_acctbal
        |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .join(Tables.supplier(s, d), col("s_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_name"))
        .agg(count(col("s_suppkey")).as("n_suppliers"),
          coalesce(moneySum(col("s_acctbal")), lit(0.0)).as("total_acctbal"))
    },

    // ---- full outer join (SURVEY §2.4 extension) -------------------------
    sql("q29_full_outer",
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        |  CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_supp
        |FROM customer c FULL OUTER JOIN supplier s ON c.c_nationkey = s.s_nationkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .groupBy(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"))
        .agg(countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("s_suppkey")).as("n_supp"))
    },

    // ---- non-equi (range/banded) join against a broadcast literal dim ----
    // At 100 TB a theta join must keep the big side un-shuffled: the band
    // dim is a literal broadcast, so this is a broadcast-nested-loop over a
    // 5-row dim — no fact shuffle.
    sql("q30_range_join",
      s"""SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_lines,
        |  ${moneySumSql("l.l_extendedprice")} AS sum_price
        |FROM lineitem l
        |JOIN (VALUES ('q00_10', 0, 10), ('q10_20', 10, 20), ('q20_30', 20, 30),
        |             ('q30_40', 30, 40), ('q40_plus', 40, 1000000)) AS b(bucket, lo, hi)
        |  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY b.bucket""".stripMargin) { (s, d) =>
      import s.implicits._
      val bands = Seq(("q00_10", 0, 10), ("q10_20", 10, 20), ("q20_30", 20, 30),
        ("q30_40", 30, 40), ("q40_plus", 40, 1000000)).toDF("bucket", "lo", "hi")
      Tables.lineitem(s, d)
        .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_lines"), moneySum(col("l_extendedprice")).as("sum_price"))
    }
  )

  /** Distributed global row_number over a UNIQUE total order — the q46
    * two-pass pattern factored for reuse (d19's sorted-neighborhood
    * ordering). See [[groupedRunningSum]] for the mechanism; this is the
    * no-group, value = 1 case. Result column is LongType.
    */
  def globalRowNumber(df: org.apache.spark.sql.DataFrame,
      sort: Seq[Column], as: String): org.apache.spark.sql.DataFrame =
    groupedRunningSum(df, Nil, sort, lit(1L), as)

  /** Global running sum of `value` (inclusive frame) over a total order
    * — the no-group case of [[groupedRunningSum]]; carries exact
    * DECIMAL accumulation when `value` is a decimal column (q73's
    * boundary math must not depend on float fold order).
    */
  def globalRunningSum(df: org.apache.spark.sql.DataFrame, sort: Seq[Column],
      value: Column, as: String): org.apache.spark.sql.DataFrame =
    groupedRunningSum(df, Nil, sort, value, as)

  /** Per-GROUP row_number in `sort` order, distributed (the `value = 1`
    * specialization of [[groupedRunningSum]]; result column is LongType,
    * vs `row_number()`'s int). `sort` must be unique within each group
    * for the ranks to be deterministic.
    */
  def groupedRowNumber(df: org.apache.spark.sql.DataFrame, group: Seq[String],
      sort: Seq[Column], as: String): org.apache.spark.sql.DataFrame =
    groupedRunningSum(df, group, sort, lit(1L), as)

  /** Per-GROUP running sum of `value` in `sort` order (frame = unbounded
    * preceding → current row), distributed. A `Window.partitionBy(group)`
    * puts each group's ENTIRE extent on one task, and for a
    * fixed-cardinality group column (e.g. `source`: ~20 values in any
    * corpus) that is N/20 rows — a multi-TB single-task sort at the
    * 100 TB point. An unpartitioned Window is worse still. Here instead:
    *
    *   1. range-repartition on (group ++ sort) with an explicit partition
    *      count, so rows are globally ordered and each group spans a
    *      contiguous run of partitions (skew-immune: a dominant group
    *      just spans more partitions);
    *   2. per-partition running sums and BOUNDARY-run subtotals in ONE
    *      pass over the sorted partitions: because the rows are range-
    *      sorted, only the FIRST and LAST group-run of a partition can
    *      straddle a partition boundary — interior groups live entirely
    *      inside the partition and need no offset at all — so pass 1
    *      emits at most 2 entries per partition, independent of group
    *      cardinality (the d3/d4 band-bucket and d25/s17 per-cluster
    *      ranks have O(N) groups; collecting one partial per group
    *      would be a driver OOM at the 100 TB point);
    *   3. shift each straddling (partition, group) run by the totals of
    *      the group's earlier partitions — the offset table is ≤
    *      2 · #partitions entries (the one sanctioned driver
    *      round-trip, same class as a q44 salt table) and ships back
    *      as a broadcast; interior runs miss the map and get offset 0.
    *
    * This is the one operator family implemented on RDD
    * `mapPartitionsWithIndex` rather than DataFrame windows, deliberately:
    * the two passes MUST agree on what "partition i" contains. Expressed
    * as two DataFrame branches over a shared exchange, that agreement is
    * an optimizer ACCIDENT — AQE may coalesce or local-read the shuffle
    * differently per consumer, and `RangePartitioner` re-SAMPLES its
    * bounds per execution, so separate executions see different row→
    * partition maps (observed as wrong ranks at sf0.1; masked at smaller
    * SFs where AQE coalesced the shuffle to one partition). Running both
    * passes over the SAME materialized RDD pins the partitioner object —
    * bounds are computed once — and the second pass reuses the first's
    * shuffle files. Lineage stays intact (no checkpoint): a lost
    * partition recomputes from the fixed bounds + fixed broadcast, so
    * the result is deterministic under executor loss.
    *
    * `value` must be non-null, and integral (accumulated as Long) or
    * decimal (accumulated as exact BigDecimal, emitted as
    * DECIMAL(38, s) — float running sums would be fold-order-dependent).
    */
  def groupedRunningSum(df: org.apache.spark.sql.DataFrame, group: Seq[String],
      sort: Seq[Column], value: Column, as: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val valued = df.withColumn("__v", value)
    val decScale = valued.schema("__v").dataType match {
      case d: DecimalType => Some(d.scale)
      case ByteType | ShortType | IntegerType | LongType => None
      case other => throw new IllegalArgumentException(
        s"groupedRunningSum needs an integral or decimal value, got $other")
    }
    val withV =
      if (decScale.isDefined) valued else valued.withColumn("__v", col("__v").cast("long"))
    // Explicit count: fixed, AQE-independent geometry (the partitioner is
    // part of the algorithm here, not a tuning knob).
    val numParts = spark.sessionState.conf.numShufflePartitions
    val keys = group.map(col) ++ sort
    val sorted = withV.repartitionByRange(numParts, keys: _*)
      .sortWithinPartitions(keys: _*)
    val schema = sorted.schema
    val gIdx = group.map(schema.fieldIndex).toArray
    val vIdx = schema.fieldIndex("__v")
    val rdd = sorted.rdd // materialized ONCE; both passes share its partitioner

    // function VALS, not defs: a nested def lifts to a method on the
    // enclosing module and its closures would drag the whole (non-
    // serializable) object into the task closure
    val groupKey: Row => List[Any] = r => gIdx.map(r.get(_)).toList
    val stripV: Seq[Any] => Seq[Any] = s => s.patch(vIdx, Nil, 1)

    val outSchema = StructType(
      schema.filterNot(_.name == "__v") :+
        StructField(as, decScale.fold[DataType](LongType)(DecimalType(38, _)),
          nullable = false))

    val out = decScale match {
      case None =>
        // pass 1: FIRST and LAST run subtotals only — rows are sorted,
        // so a group's rows are contiguous within a partition AND a
        // group spanning multiple partitions is the last run of one and
        // the first run of the next (range partitioning on the group-
        // prefixed keys is monotonic). Interior runs are whole groups
        // that need no offset; emitting them would make the collect
        // O(#groups) — the at-scale driver-OOM this helper exists to
        // avoid. ≤ 2 entries per partition, any group cardinality.
        val partials = rdd.mapPartitionsWithIndex { (pid, it) =>
          var firstKey: List[Any] = null; var firstAcc = 0L
          var cur: List[Any] = null; var acc = 0L; var any = false
          it.foreach { r =>
            val k = groupKey(r)
            if (!any) { cur = k; any = true }
            else if (k != cur) {
              if (firstKey == null) { firstKey = cur; firstAcc = acc }
              cur = k; acc = 0L
            }
            acc += r.getLong(vIdx)
          }
          if (!any) Iterator.empty
          else if (firstKey == null) Iterator((pid, cur, acc)) // one run
          else Iterator((pid, firstKey, firstAcc), (pid, cur, acc))
        }.collect()
        graft.EngineState.of(spark).lastPartialCount.set(partials.length)
        val offsets: Map[(Int, List[Any]), Long] =
          partials.groupBy(_._2).iterator.flatMap { case (k, arr) =>
            var acc = 0L
            arr.sortBy(_._1).map { case (pid, _, s) =>
              val o = acc; acc += s; ((pid, k), o)
            }
          }.toMap
        val bc = spark.sparkContext.broadcast(offsets)
        rdd.mapPartitionsWithIndex { (pid, it) =>
          var cur: List[Any] = null; var acc = 0L; var any = false
          it.map { r =>
            val k = groupKey(r)
            if (!any || k != cur) {
              cur = k; any = true
              acc = bc.value.getOrElse((pid, k), 0L)
            }
            acc += r.getLong(vIdx)
            Row.fromSeq(stripV(r.toSeq) :+ acc)
          }
        }
      case Some(scale) =>
        val zero = java.math.BigDecimal.ZERO.setScale(scale)
        // same first/last-run bound as the Long branch
        val partials = rdd.mapPartitionsWithIndex { (pid, it) =>
          var firstKey: List[Any] = null; var firstAcc = zero
          var cur: List[Any] = null; var acc = zero; var any = false
          it.foreach { r =>
            val k = groupKey(r)
            if (!any) { cur = k; any = true }
            else if (k != cur) {
              if (firstKey == null) { firstKey = cur; firstAcc = acc }
              cur = k; acc = zero
            }
            acc = acc.add(r.getDecimal(vIdx))
          }
          if (!any) Iterator.empty
          else if (firstKey == null) Iterator((pid, cur, acc))
          else Iterator((pid, firstKey, firstAcc), (pid, cur, acc))
        }.collect()
        graft.EngineState.of(spark).lastPartialCount.set(partials.length)
        val offsets: Map[(Int, List[Any]), java.math.BigDecimal] =
          partials.groupBy(_._2).iterator.flatMap { case (k, arr) =>
            var acc = zero
            arr.sortBy(_._1).map { case (pid, _, s) =>
              val o = acc; acc = acc.add(s); ((pid, k), o)
            }
          }.toMap
        val bc = spark.sparkContext.broadcast(offsets)
        rdd.mapPartitionsWithIndex { (pid, it) =>
          var cur: List[Any] = null; var acc = zero; var any = false
          it.map { r =>
            val k = groupKey(r)
            if (!any || k != cur) {
              cur = k; any = true
              acc = bc.value.getOrElse((pid, k), zero)
            }
            acc = acc.add(r.getDecimal(vIdx))
            Row.fromSeq(stripV(r.toSeq) :+ acc)
          }
        }
    }
    spark.createDataFrame(out, outSchema)
  }
}
