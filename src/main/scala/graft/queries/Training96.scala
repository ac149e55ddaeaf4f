package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-sixth wave — computational geometry, temporal algebra, and
  * control loops:
  *
  *  - q450: convex-hull extreme points of the (order count, revenue)
  *    nation×segment scatter — a point is extreme iff it is the
  *    endpoint of a directed edge with NO point strictly to its left
  *    (the O(n³) supporting-line characterization, exact integer
  *    cross products; chosen over monotone chain precisely because
  *    it is relational: 125³ candidate tests are three dictionary
  *    joins). The same definition replays in the JVM spec, with a
  *    quickhull-independent interior-point witness.
  *  - q451: Allen's interval-algebra census (Allen, CACM'83) — every
  *    same-customer pair of order fulfilment intervals classified
  *    into the 13 exhaustive, mutually exclusive Allen relations
  *    (before/meets/overlaps/starts/during/finishes + inverses +
  *    equals) by pure comparison CASE; the census proves exhaustive-
  *    ness (counts sum to every pair). Pair mass is per-customer
  *    quadratic = linear in customers at fixed order frequency.
  *  - q452: PID-controller autoscaler replay over the daily event
  *    load — error vs a fixed setpoint (the horizon mean), integral
  *    via running sum, derivative via lag, all in integer micro
  *    units; replica recommendation clamped to [1, 64] OUTSIDE the
  *    loop (so the dynamics stay window-linear and exactly
  *    replayable). The control-theory sibling of q423's burn-rate
  *    alerting.
  */
object Training96 {
  private def hullSql(ordersRel: String, custRel: String): String = s"""
    WITH pts AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o.o_totalprice, 0) AS BIGINT)) AS BIGINT) AS y
      FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    p AS (SELECT DISTINCT x, y FROM pts),
    edges AS (
      SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS byy
      FROM p a JOIN p b ON NOT (a.x = b.x AND a.y = b.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM p r
        WHERE (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) > 0)),
    extremes AS (
      SELECT DISTINCT ax AS x, ay AS y FROM edges
      UNION SELECT DISTINCT bx AS x, byy AS y FROM edges)
    SELECT e.x, e.y,
           (SELECT CAST(count(*) AS BIGINT) FROM extremes) AS n_extreme,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_points
    FROM extremes e
    ORDER BY e.x, e.y"""

  private def allenSql(spark: Boolean, ordersRel: String, liRel: String): String = {
    s"""
      WITH iv AS (
        SELECT o.o_custkey AS cust, o.o_orderkey AS k,
               max(o.o_orderdate) AS s, max(l.l_shipdate) AS e
        FROM $ordersRel o JOIN $liRel l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
        HAVING max(l.l_shipdate) >= max(o.o_orderdate)),
      rel AS (
        SELECT CASE
            WHEN a.e < b.s THEN 'before'
            WHEN b.e < a.s THEN 'before_inv'
            WHEN a.e = b.s AND a.s < b.s THEN 'meets'
            WHEN b.e = a.s AND b.s < a.s THEN 'meets_inv'
            WHEN a.s = b.s AND a.e = b.e THEN 'equals'
            WHEN a.s = b.s AND a.e < b.e THEN 'starts'
            WHEN a.s = b.s AND a.e > b.e THEN 'starts_inv'
            WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
            WHEN a.e = b.e AND a.s < b.s THEN 'finishes_inv'
            WHEN a.s > b.s AND a.e < b.e THEN 'during'
            WHEN b.s > a.s AND b.e < a.e THEN 'during_inv'
            WHEN a.s < b.s AND a.e < b.e THEN 'overlaps'
            ELSE 'overlaps_inv' END AS relation
        FROM iv a JOIN iv b ON a.cust = b.cust AND a.k < b.k)
      SELECT relation, CAST(count(*) AS BIGINT) AS n
      FROM rel GROUP BY relation ORDER BY relation"""
  }

  private def pidSql(spark: Boolean, eventsRel: String): String = {
    val idiv = if (spark) "div" else "//"
    // explicit FLOOR division — the error terms go negative and Spark's
    // `div` truncates while DuckDB's `//` floors (the known repo gotcha)
    def fd(x: String, n: String) =
      s"(CASE WHEN ($x) >= 0 THEN ($x) $idiv ($n) ELSE -((-($x) + ($n) - 1) $idiv ($n)) END)"
    val day = if (spark) "to_date(ts)" else "CAST(ts AS DATE)"
    // Kp=0.5, Ki=0.1, Kd=0.2 in micro
    s"""
      WITH load AS (
        SELECT $day AS day, CAST(count(*) AS BIGINT) AS v
        FROM $eventsRel GROUP BY 1),
      setp AS (
        SELECT CAST(sum(v) $idiv count(*) AS BIGINT) AS target FROM load),
      err AS (
        SELECT day, v, v - t.target AS e
        FROM load, setp t),
      terms AS (
        SELECT day, e,
               sum(e) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ie,
               e - coalesce(lag(e) OVER (ORDER BY day), e) AS de
        FROM err),
      u AS (
        SELECT day, e,
               ${fd("500000 * e + 100000 * ie + 200000 * de", "1000000")} AS u_raw
        FROM terms),
      rec AS (
        SELECT day, e,
               least(64, greatest(1, 1 + ${fd("u_raw * 64",
                 "(SELECT greatest(target, 1) FROM setp)")})) AS replicas
        FROM u)
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(replicas) AS BIGINT) AS max_replicas,
             CAST(min(replicas) AS BIGINT) AS min_replicas,
             CAST(SUM(CASE WHEN replicas = 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_saturated_high,
             CAST(SUM(CASE WHEN replicas = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_saturated_low,
             CAST(sum(abs(e)) AS BIGINT) AS sum_abs_error
      FROM rec"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q450_convex_extremes",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ch_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_ch_customer")
        s.sql(hullSql("graft_ch_orders", "graft_ch_customer"))
      },
      Some(hullSql("orders", "customer"))),

    QueryDef(
      "q451_allen_interval_census",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ai_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_ai_lineitem")
        s.sql(allenSql(spark = true, "graft_ai_orders", "graft_ai_lineitem"))
      },
      Some(allenSql(spark = false, "orders", "lineitem"))),

    QueryDef(
      "q452_pid_autoscaler",
      (s, d) => {
        Tables(s, d, "events").createOrReplaceTempView("graft_pid_events")
        s.sql(pidSql(spark = true, "graft_pid_events"))
      },
      Some(pidSql(spark = false, "events"))),
  )
}
