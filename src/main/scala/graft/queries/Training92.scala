package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-second wave — acyclic-join theory, survival analysis, and
  * queueing-identity auditing:
  *
  *  - q438: Yannakakis semi-join reduction over the acyclic chain
  *    region→nation→customer→orders — a bottom-up semi-join pass
  *    removes every tuple that cannot contribute to the final answer
  *    BEFORE the join (at 100 TB this is the difference between
  *    shuffling all orders and shuffling only qualifying ones), a
  *    top-down pass removes dangling customers, and the output pins
  *    both the reduced answer AND the dangling-tuple censuses the
  *    full reducer eliminated. The oracle computes the same from
  *    plain joins — Yannakakis' theorem says they must agree.
  *  - q439: Kaplan–Meier survival estimator over order fulfilment
  *    times (order date → last line shipped), right-censored at a
  *    60-day study horizon: per event time, the at-risk count, event
  *    count and the cumulative log-survival in micro-nats (libm ln
  *    rounded at source, the q74 rule — the product estimator done
  *    as an exact integer sum). One fact aggregation; the KM table
  *    is a ≤61-row dictionary.
  *  - q440: Little's-law audit via sweep line — the time integral of
  *    the in-flight-orders step function (gap-weighted cumulative
  *    over the delta-day dictionary) must EXACTLY equal the sum of
  *    order durations; the output pins the identity plus the three
  *    Little quantities (arrival rate, mean residence, mean
  *    concurrency) in ppm. The queueing sanity check every event
  *    pipeline should run on itself.
  */
object Training92 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q438_yannakakis_reducer",
      (s, d) => {
        val region = Tables(s, d, "region").filter(col("r_name").isin("ASIA", "EUROPE"))
        val nation = Tables(s, d, "nation")
        val customer = Tables(s, d, "customer")
        val orders = Tables(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        // bottom-up semi-join reduction (root = orders)
        val nationR = nation.join(broadcast(region),
          nation("n_regionkey") === region("r_regionkey"), "left_semi")
        val custR = customer.join(broadcast(nationR),
          customer("c_nationkey") === nationR("n_nationkey"), "left_semi")
        val ordersR = orders.join(custR.select("c_custkey"),
          orders("o_custkey") === custR("c_custkey"), "left_semi")
        // top-down pass: drop dangling customers (no URGENT order)
        val custR2 = custR.join(ordersR.select("o_custkey"),
          custR("c_custkey") === ordersR("o_custkey"), "left_semi")
        // reduced relations now join dangling-free; aggregate per nation
        val byNation = ordersR
          .join(custR2.select("c_custkey", "c_nationkey"), expr("c_custkey = o_custkey"))
          .join(broadcast(nationR.select("n_nationkey", "n_name")),
            expr("n_nationkey = c_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
        val custCensus = custR
          .join(custR2.select(col("c_custkey").as("k2")),
            expr("k2 = c_custkey"), "left_outer")
          .join(broadcast(nationR.select("n_nationkey", "n_name")),
            expr("n_nationkey = c_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_cust_region"),
            sum(when(col("k2").isNotNull, 1L).otherwise(0L)).as("n_cust_surviving"))
        byNation.join(custCensus, "n_name")
          .selectExpr("n_name", "n_orders", "cents",
            "n_cust_region", "n_cust_surviving",
            "n_cust_region - n_cust_surviving AS n_dangling")
          .orderBy("n_name")
      },
      Some("""
        WITH reduced AS (
          SELECT n.n_name, o.o_orderkey,
                 CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
                 c.c_custkey
          FROM region r
          JOIN nation n ON n.n_regionkey = r.r_regionkey
          JOIN customer c ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey
          WHERE r.r_name IN ('ASIA', 'EUROPE')
            AND o.o_orderpriority = '1-URGENT'),
        census AS (
          SELECT n.n_name,
                 CAST(count(*) AS BIGINT) AS n_cust_region,
                 CAST(SUM(CASE WHEN EXISTS (
                   SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderpriority = '1-URGENT')
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_cust_surviving
          FROM region r
          JOIN nation n ON n.n_regionkey = r.r_regionkey
          JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE r.r_name IN ('ASIA', 'EUROPE')
          GROUP BY 1)
        SELECT x.n_name, x.n_orders, x.cents,
               y.n_cust_region, y.n_cust_surviving,
               y.n_cust_region - y.n_cust_surviving AS n_dangling
        FROM (SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(cents) AS BIGINT) AS cents
              FROM reduced GROUP BY 1) x
        JOIN census y ON y.n_name = x.n_name
        ORDER BY x.n_name""")),

    QueryDef(
      "q439_kaplan_meier",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_km_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_km_lineitem")
        s.sql("""
          WITH durations AS (
            SELECT o.o_orderkey,
                   datediff(max(l.l_shipdate), max(o.o_orderdate)) AS t_true
            FROM graft_km_orders o JOIN graft_km_lineitem l
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey
            HAVING datediff(max(l.l_shipdate), max(o.o_orderdate)) >= 0),
          pop AS (SELECT count(*) AS n FROM durations),
          events AS (
            SELECT t_true AS t, count(*) AS d
            FROM durations WHERE t_true <= 60 GROUP BY 1),
          km AS (
            SELECT t, d,
                   (SELECT max(n) FROM pop)
                     - (sum(d) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - d)
                     AS n_risk
            FROM events)
          SELECT CAST(t AS INT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
                 CAST(d AS BIGINT) AS n_events,
                 CAST(sum(CAST(round(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1000000, 0)
                        AS BIGINT))
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS log_surv_micro
          FROM km ORDER BY t""")
      },
      Some("""
        WITH durations AS (
          SELECT o.o_orderkey,
                 date_diff('day', max(o.o_orderdate), max(l.l_shipdate)) AS t_true
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey
          HAVING date_diff('day', max(o.o_orderdate), max(l.l_shipdate)) >= 0),
        pop AS (SELECT count(*) AS n FROM durations),
        events AS (
          SELECT t_true AS t, count(*) AS d
          FROM durations WHERE t_true <= 60 GROUP BY 1),
        km AS (
          SELECT t, d,
                 (SELECT max(n) FROM pop)
                   - (sum(d) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - d)
                   AS n_risk
          FROM events)
        SELECT CAST(t AS INT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_events,
               CAST(sum(CAST(round(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1000000, 0)
                      AS BIGINT))
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS log_surv_micro
        FROM km ORDER BY t""")),

    QueryDef(
      "q440_littles_law_audit",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ll_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_ll_lineitem")
        s.sql(littleSql(spark = true,
          "graft_ll_orders", "graft_ll_lineitem"))
      },
      Some(littleSql(spark = false, "orders", "lineitem"))),
  )

  /** q440's SQL per dialect (datediff spelling + integer division). */
  private def littleSql(spark: Boolean, ordersRel: String, liRel: String): String = {
    val dd = (a: String, b: String) =>
      if (spark) s"datediff($b, $a)" else s"date_diff('day', $a, $b)"
    val idiv = if (spark) "div" else "//"
    s"""
      WITH intervals AS (
        SELECT o.o_orderkey, max(o.o_orderdate) AS s,
               max(l.l_shipdate) AS e
        FROM $ordersRel o JOIN $liRel l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
        HAVING max(l.l_shipdate) >= max(o.o_orderdate)),
      horizon AS (
        SELECT min(s) AS h0, max(e) AS h1,
               count(*) AS n,
               CAST(sum(${dd("s", "e")}) AS BIGINT) AS sum_dur
        FROM intervals),
      deltas AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM (
          SELECT s AS day, 1 AS delta FROM intervals
          UNION ALL
          SELECT e AS day, -1 AS delta FROM intervals) x
        GROUP BY day),
      sweep AS (
        SELECT day,
               sum(delta) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
               lead(day) OVER (ORDER BY day) AS next_day
        FROM deltas),
      integral AS (
        SELECT CAST(sum(conc * ${dd("day", "next_day")}) AS BIGINT) AS area
        FROM sweep WHERE next_day IS NOT NULL)
      SELECT CAST(h.n AS BIGINT) AS n_orders,
             CAST(${dd("h.h0", "h.h1")} AS BIGINT) AS horizon_days,
             h.sum_dur AS sum_duration_days,
             i.area AS concurrency_integral,
             CAST(CASE WHEN i.area = h.sum_dur THEN 1 ELSE 0 END AS INT)
               AS identity_holds,
             CAST((i.area * 1000000) $idiv (${dd("h.h0", "h.h1")}) AS BIGINT)
               AS avg_concurrency_ppm,
             CAST((h.n * 1000000) $idiv (${dd("h.h0", "h.h1")}) AS BIGINT)
               AS arrival_rate_ppm,
             CAST((h.sum_dur * 1000000) $idiv h.n AS BIGINT)
               AS mean_duration_ppm
      FROM horizon h, integral i"""
  }
}
