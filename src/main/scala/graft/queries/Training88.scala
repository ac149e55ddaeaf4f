package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-eighth wave — fair allocation and star-expansion syntax:
  *
  *  - q427: max-min fair (water-filling) capacity allocation — total
  *    capacity C = half the corpus order mass is split across
  *    customer demands so no one gets more than they asked for and
  *    everyone below the waterline is fully served: the waterline L
  *    solves Σ min(demand_i, L) = C. One sorted cumulative pass over
  *    the customer DICTIONARY finds the crossing segment; the exact
  *    integer waterline (floor) + surplus redistribution count follow
  *    algebraically. THE multi-tenant quota algorithm (networks,
  *    schedulers, rate limiters) as one window pass.
  *  - q428: `SELECT * EXCEPT` and nested-struct star expansion — the
  *    Spark 4 projection shorthand surface: star-except prunes
  *    columns by NAME at parse time, `payload.*` expands a struct;
  *    census proves both forms resolve correctly.
  */
object Training88 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q427_maxmin_fair_allocation",
      (s, d) => {
        val demands = Tables(s, d, "orders")
          .groupBy(col("o_custkey").as("cust"))
          .agg(count(lit(1)).as("demand"))
          .localCheckpoint() // capacity agg + waterline pass read it
        val cap = demands.agg((sum("demand") / 2).cast("long").as("cap"))
        // sorted cumulative pass: find the crossing segment where
        // serving everyone below level d_k exhausts capacity — via the
        // two-phase rank+prefix-sum (the demand table is the CUSTOMER
        // dimension, data-sized at 100 TB; no global window)
        val ranked = graft.operators.ScalableRank
          .withPrefixSum(demands, Seq(col("demand"), col("cust")),
            col("demand"), "cum", rankCol = Some("idx"))
          .crossJoin(broadcast(cap))
          .crossJoin(broadcast(
            demands.agg(count(lit(1)).as("n_cust"))))
        // the waterline segment: smallest idx where serving the rest at
        // this row's demand level would exceed capacity
        val crossing = ranked
          .filter(col("cum") - col("demand") +
            (col("n_cust") - col("idx") + 1) * col("demand") > col("cap"))
          .orderBy("idx").limit(1)
          .selectExpr("cum - demand AS served_below",
            "n_cust - idx + 1 AS n_capped", "cap")
          .selectExpr(
            "(cap - served_below) div n_capped AS waterline",
            "n_capped", "served_below")
        demands.crossJoin(broadcast(crossing))
          .selectExpr("cust", "demand",
            "least(demand, waterline) AS granted", "waterline")
          .agg(count(lit(1)).as("n_cust"),
            sum("demand").as("total_demand"),
            sum("granted").as("total_granted"),
            max("waterline").as("waterline"),
            sum(expr("CASE WHEN granted < demand THEN 1 ELSE 0 END"))
              .as("n_capped"))
      },
      Some("""
        WITH demands AS (
          SELECT o_custkey AS cust, count(*) AS demand
          FROM orders GROUP BY 1),
        cap AS (SELECT CAST(sum(demand) // 2 AS BIGINT) AS cap
                FROM demands),
        ranked AS (
          SELECT cust, demand,
                 row_number() OVER (ORDER BY demand, cust) AS idx,
                 sum(demand) OVER (ORDER BY demand, cust
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 (SELECT count(*) FROM demands) AS n_cust,
                 cap.cap
          FROM demands, cap),
        crossing AS (
          SELECT (cap - (cum - demand)) // (n_cust - idx + 1)
                   AS waterline
          FROM ranked
          WHERE cum - demand + (n_cust - idx + 1) * demand > cap
          ORDER BY idx LIMIT 1)
        SELECT CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(demand) AS BIGINT) AS total_demand,
               CAST(sum(least(demand, waterline)) AS BIGINT)
                 AS total_granted,
               CAST(max(waterline) AS BIGINT) AS waterline,
               CAST(SUM(CASE WHEN least(demand, waterline) < demand
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        FROM demands, crossing""")),

    QueryDef(
      "q428_select_except_star",
      (s, d) => {
        Tables(s, d, "orders").selectExpr("o_orderkey",
          """named_struct('pri', o_orderpriority,
               'cents', CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS payload""",
          "o_orderstatus", "o_custkey")
          .createOrReplaceTempView("graft_star_ex")
        s.sql("""
          WITH pruned AS (
            SELECT * EXCEPT (o_custkey, o_orderstatus) FROM graft_star_ex),
          expanded AS (
            SELECT o_orderkey, payload.* FROM pruned)
          SELECT pri, count(*) AS n, CAST(sum(cents) AS BIGINT)
                   AS sum_cents,
                 CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
          FROM expanded GROUP BY pri ORDER BY pri""")
      },
      Some("""
        SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        FROM orders GROUP BY 1 ORDER BY pri""")),
  )
}
