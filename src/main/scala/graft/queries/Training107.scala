package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{QueryDef, Tables}

/** Hundred-seventh wave — the business-calendar suite (the q478 ISO
  * census's operational siblings):
  *
  *  - q481: business-day latency — Mon–Fri day counts between order and
  *    ship dates via the closed form h(d) = 5·⌊n/7⌋ + min(n mod 7, 5)
  *    anchored on a Monday epoch (1970-01-05), so the count is pure
  *    integer arithmetic (no per-day expansion, no calendar table);
  *    per-priority calendar-vs-business latency in exact ppm. The
  *    harness data ships some lines BEFORE their order date; the
  *    difference h(ship) − h(order) is SIGNED, consistently with the
  *    calendar datediff beside it (|bus| ≤ |cal|, same sign — spec).
  *  - q482: 4-4-5 fiscal calendar mapping — fiscal years anchor on the
  *    Monday on-or-before Feb 1; weeks map to 12 periods as 4+4+5 per
  *    quarter with week ≥52 folded into P12 (the 53-week year rule).
  *    Revenue rolls up by fiscal period; every derivation is date
  *    arithmetic shared by both dialects (Spark `weekday` ≡ DuckDB
  *    `isodow − 1`).
  *  - q483: cron-style schedule expansion — five rules with (dow, dom,
  *    month-residue) patterns expanded against the order-day dictionary
  *    in one NULL-tolerant join; per rule: matching-day census and the
  *    order volume landing on scheduled days. java.time replays all
  *    three in the spec.
  */
object Training107 {
  // Monday anchor: 1970-01-05
  private def busDaysTo(spark: Boolean, col: String): String = {
    val n =
      if (spark) s"(datediff(CAST($col AS DATE), DATE '1970-01-05') + 1)"
      else s"(CAST($col AS DATE) - DATE '1970-01-05' + 1)"
    val idiv = if (spark) "div" else "//"
    s"(5 * ($n $idiv 7) + least($n % 7, 5))"
  }

  private def busDaySql(spark: Boolean, ordersRel: String, lineitemRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val cal =
      if (spark) "datediff(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))"
      else "(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE))"
    s"""
      SELECT o.o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST($cal AS BIGINT)) AS BIGINT) AS cal_days,
             CAST(sum(CAST(${busDaysTo(spark, "l.l_shipdate")}
                  - ${busDaysTo(spark, "o.o_orderdate")} AS BIGINT)) AS BIGINT)
               AS bus_days,
             CAST((sum(CAST(${busDaysTo(spark, "l.l_shipdate")}
                  - ${busDaysTo(spark, "o.o_orderdate")} AS BIGINT)) * 1000000)
               $idiv count(*) AS BIGINT) AS avg_bus_ppm
      FROM $ordersRel o JOIN $lineitemRel l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority ORDER BY prio"""
  }

  private def fiscal445Sql(spark: Boolean, ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    def weekday(e: String) = if (spark) s"weekday($e)" else s"(isodow($e) - 1)"
    def makeDate(y: String) =
      if (spark) s"make_date($y, 2, 1)" else s"make_date($y, 2, 1)"
    def dateDiff(a: String, b: String) =
      if (spark) s"datediff($a, $b)" else s"($a - $b)"
    def minusDays(d: String, n: String) =
      if (spark) s"date_sub($d, $n)" else s"($d - CAST($n AS INTEGER))"
    s"""
      WITH base AS $mat(
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice, 0) AS BIGINT) AS rev
        FROM $ordersRel),
      anch AS $mat(
        SELECT day, rev,
               CASE WHEN day >= ${minusDays(makeDate("year(day)"), weekday(makeDate("year(day)")))}
                    THEN CAST(year(day) AS BIGINT)
                    ELSE CAST(year(day) - 1 AS BIGINT) END AS fy
        FROM base),
      wk AS $mat(
        SELECT day, rev, fy,
               CAST(${dateDiff("day", minusDays(makeDate("CAST(fy AS INT)"), weekday(makeDate("CAST(fy AS INT)"))))}
                 AS BIGINT) $idiv 7 AS w
        FROM anch)
      SELECT fy AS fiscal_year,
             CAST(CASE WHEN w >= 52 THEN 12
                  ELSE (w $idiv 13) * 3 +
                       CASE WHEN w % 13 < 4 THEN 1
                            WHEN w % 13 < 8 THEN 2 ELSE 3 END
                  END AS BIGINT) AS period,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(rev) AS BIGINT) AS revenue
      FROM wk GROUP BY 1, 2 ORDER BY fiscal_year, period"""
  }

  private def cronSql(spark: Boolean, ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    def weekday(e: String) = if (spark) s"weekday($e)" else s"(isodow($e) - 1)"
    def intNull = if (spark) "CAST(NULL AS INT)" else "CAST(NULL AS INTEGER)"
    s"""
      WITH rules AS (
        SELECT 'every_monday' AS rule, 0 AS dow, $intNull AS dom,
               $intNull AS month_mod, $intNull AS month_res
        UNION ALL SELECT 'first_of_month', $intNull, 1, $intNull, $intNull
        UNION ALL SELECT 'quarter_start', $intNull, 1, 3, 1
        UNION ALL SELECT 'friday_13th', 4, 13, $intNull, $intNull
        UNION ALL SELECT 'mid_june', $intNull, 15, 12, 6),
      days AS $mat(
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM $ordersRel GROUP BY 1),
      hits AS $mat(
        SELECT r.rule, d.day, d.n_orders
        FROM rules r JOIN days d
          ON (r.dow IS NULL OR ${weekday("d.day")} = r.dow)
         AND (r.dom IS NULL OR day(d.day) = r.dom)
         AND (r.month_mod IS NULL OR month(d.day) % r.month_mod = r.month_res))
      SELECT rule,
             CAST(count(*) AS BIGINT) AS n_days,
             min(day) AS first_day, max(day) AS last_day,
             CAST(sum(n_orders) AS BIGINT) AS orders_on_schedule
      FROM hits GROUP BY rule ORDER BY rule"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q481_business_days",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_bd_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_bd_lineitem")
        s.sql(busDaySql(spark = true, "graft_bd_orders", "graft_bd_lineitem"))
      },
      Some(busDaySql(spark = false, "orders", "lineitem"))),

    QueryDef(
      "q482_fiscal_445",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_fy_orders")
        s.sql(fiscal445Sql(spark = true, "graft_fy_orders"))
      },
      Some(fiscal445Sql(spark = false, "orders"))),

    QueryDef(
      "q483_cron_expansion",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_cr_orders")
        s.sql(cronSql(spark = true, "graft_cr_orders"))
      },
      Some(cronSql(spark = false, "orders"))),
  )
}
