package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, QueryDef, Tables}

/** Relational query catalog over the TPC-H-ish harness tables: scans,
  * filters, aggregation, joins (inner/outer/semi/anti), windows, set
  * ops, rollup/cube/grouping sets, pivot — the generic surface SURVEY.md
  * §2 requires beyond the wafer pipeline itself.
  *
  * Float discipline: every money sum goes through Num.dsum (exact decimal
  * accumulate, cast back to double) so results are bit-identical across
  * shuffle orders and engines — see Num's scaladoc.
  *
  * Scale notes (local[32] correctness, 1000-executor design):
  *   - dimension joins (nation/region/supplier, and customer at these
  *     SFs) are explicitly `broadcast()` — no shuffle of the fact side;
  *   - fact-fact joins (lineitem⋈orders) shuffle on the join key and are
  *     AQE-managed; at 100 TB the right design is bucketing both on
  *     orderkey, which this layout supports unchanged;
  *   - windows partition by a key (never a global window) so no single-
  *     partition sort exists anywhere.
  */
object Relational {
  import Num.{dsum, dsumSql}

  val defs: Seq[QueryDef] = Seq(

    // ---- D1/D7/F: grouped aggregation over a pushed-down filter (TPC-H Q1 shape)
    QueryDef(
      "q01_pricing_summary",
      (s, d) =>
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order")),
      Some(s"""
        SELECT l_returnflag, l_linestatus,
          ${dsumSql("l_quantity")} AS sum_qty,
          ${dsumSql("l_extendedprice")} AS sum_base_price,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
          ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
          ${dsumSql("l_quantity")} / count(*) AS avg_qty,
          ${dsumSql("l_extendedprice")} / count(*) AS avg_price,
          ${dsumSql("l_discount")} / count(*) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")),

    // ---- sort + limit (deterministic via unique tiebreak)
    QueryDef(
      "q02_top_orders",
      (s, d) =>
        Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // ---- multi-way join: fact⋈fact shuffle join + broadcast dims
    QueryDef(
      "q03_revenue_by_nation",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders")
        val c = Tables(s, d, "customer")
        val n = Tables(s, d, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""
        SELECT n_name,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
          count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name""")),

    // ---- left semi join (EXISTS)
    QueryDef(
      "q04_semi_join",
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders").filter(col("o_orderstatus") === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_cust FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        GROUP BY c_mktsegment""")),

    // ---- left anti join (NOT EXISTS): customers with no 'P' order
    QueryDef(
      "q05_anti_join",
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders").filter(col("o_orderstatus") === "P")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
      },
      Some("""
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""")),

    // ---- left outer join over a pre-aggregated right side
    QueryDef(
      "q06_outer_join_agg",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val liAgg = Tables(s, d, "lineitem")
          .filter(col("l_quantity") >= 30)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("qty"))
        o.join(liAgg, o("o_orderkey") === liAgg("l_orderkey"), "left")
          .select(
            col("o_orderkey"),
            coalesce(col("cnt"), lit(0L)).as("n_big_items"),
            coalesce(col("qty"), lit(0.0)).as("sum_big_qty"))
      },
      Some(s"""
        SELECT o_orderkey,
               COALESCE(cnt, 0) AS n_big_items,
               COALESCE(qty, 0.0) AS sum_big_qty
        FROM orders
        LEFT JOIN (SELECT l_orderkey, count(*) AS cnt,
                          ${dsumSql("l_quantity")} AS qty
                   FROM lineitem WHERE l_quantity >= 30
                   GROUP BY l_orderkey) li
          ON o_orderkey = li.l_orderkey""")),

    // ---- window: ranked top-N per group
    QueryDef(
      "q07_window_topk",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables(s, d, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rnk
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders) t
        WHERE rnk <= 3""")),

    // ---- window: running (prefix) aggregate, exact decimal accumulate
    QueryDef(
      "q08_running_total",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, d, "orders")
          .withColumn("run_total",
            sum(col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double"))
          .select("o_custkey", "o_orderkey", "run_total")
      },
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        FROM orders""")),

    // ---- window: lag/lead analytics
    QueryDef(
      "q09_lag_lead",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables(s, d, "orders")
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .withColumn("next_price", lead("o_totalprice", 1).over(w))
          .withColumn("days_since_prev",
            datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w)).cast("long"))
          .select("o_custkey", "o_orderkey", "prev_price", "next_price", "days_since_prev")
      },
      Some("""
        SELECT o_custkey, o_orderkey,
               lag(o_totalprice)  OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price,
               date_diff('day',
                 CAST(lag(o_orderdate) OVER w AS DATE),
                 CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    // ---- rollup
    QueryDef(
      "q10_rollup",
      (s, d) =>
        Tables(s, d, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total")),
      Some(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               ${dsumSql("o_totalprice")} AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    // ---- cube
    QueryDef(
      "q11_cube",
      (s, d) =>
        Tables(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty")),
      Some(s"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               ${dsumSql("l_quantity")} AS qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // ---- grouping sets
    QueryDef(
      "q12_grouping_sets",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_orders_gs")
        s.sql(s"""
          SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 ${dsumSql("o_totalprice")} AS total
          FROM graft_orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
      },
      Some(s"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               ${dsumSql("o_totalprice")} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")),

    // ---- set op: union all
    QueryDef(
      "q13_union_all",
      (s, d) =>
        Tables(s, d, "customer")
          .select(lit("customer").as("src"), col("c_custkey").as("key"))
          .unionByName(
            Tables(s, d, "supplier").select(lit("supplier").as("src"), col("s_suppkey").as("key"))),
      Some("""
        SELECT 'customer' AS src, c_custkey AS key FROM customer
        UNION ALL
        SELECT 'supplier' AS src, s_suppkey AS key FROM supplier""")),

    // ---- set op: intersect
    QueryDef(
      "q14_intersect",
      (s, d) => {
        val o = Tables(s, d, "orders")
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
          .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
      },
      Some("""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""")),

    // ---- set op: except
    QueryDef(
      "q15_except",
      (s, d) =>
        Tables(s, d, "customer").select(col("c_custkey").as("custkey"))
          .except(Tables(s, d, "orders").filter(col("o_orderstatus") === "P")
            .select(col("o_custkey").as("custkey"))),
      Some("""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""")),

    // ---- distinct + sort (D6)
    QueryDef(
      "q16_distinct_sort",
      (s, d) =>
        Tables(s, d, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority"),
      Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority")),

    // ---- pivot / contingency table (D4): explicit value list — avoids the
    // pivot-value discovery job AND pins output columns at any scale
    QueryDef(
      "q17_pivot",
      (s, d) => {
        val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        Tables(s, d, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", priorities)
          .count()
          .na.fill(0L)
      },
      Some("""
        SELECT o_orderstatus,
          count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
          count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
          count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
          count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
          count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        FROM orders GROUP BY o_orderstatus""")),

    // ---- value_counts incl. ordering by count (D5)
    QueryDef(
      "q18_value_counts",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l_returnflag")),
      Some("""
        SELECT l_returnflag, count(*) AS n FROM lineitem
        GROUP BY l_returnflag ORDER BY n DESC, l_returnflag""")),

    // ---- per-column null-count matrix in one pass (D8)
    QueryDef(
      "q19_null_counts",
      (s, d) => {
        val o = Tables(s, d, "orders")
        o.select(o.columns.map(c =>
          count(when(col(c).isNull, lit(1))).as(s"${c}_nulls")).toSeq: _*)
      },
      Some("""
        SELECT count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS o_orderkey_nulls,
               count(CASE WHEN o_custkey IS NULL THEN 1 END) AS o_custkey_nulls,
               count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS o_orderstatus_nulls,
               count(CASE WHEN o_totalprice IS NULL THEN 1 END) AS o_totalprice_nulls,
               count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS o_orderdate_nulls,
               count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS o_orderpriority_nulls
        FROM orders""")),

    // ---- conditional counts in one pass (D9/D10)
    QueryDef(
      "q20_conditional_counts",
      (s, d) =>
        Tables(s, d, "orders").agg(
          count(when(col("o_orderstatus") === "F", lit(1))).as("n_f"),
          count(when(col("o_orderstatus") === "O", lit(1))).as("n_o"),
          count(when(col("o_orderstatus") === "P", lit(1))).as("n_p"),
          count(lit(1)).as("n_total")),
      Some("""
        SELECT count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
               count(*) AS n_total
        FROM orders""")),

    // ---- date/time bucketing aggregation
    QueryDef(
      "q26_monthly_revenue",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue")),
      Some(s"""
        SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS revenue
        FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')""")),
  )
}
