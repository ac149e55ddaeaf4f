package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-eighth wave — the q400 milestone:
  *
  *  - q400: the TPC-H Q21 shape ("suppliers who kept orders waiting"),
  *    adapted to the harness schema: on multi-supplier orders, find
  *    the supplier with a LATE line (shipped >90 days after the order
  *    date) where NO OTHER supplier on the order was late — the
  *    classic EXISTS + NOT-EXISTS double correlated self-join, the
  *    hardest of the classic benchmark patterns. Spark-first form:
  *    the two correlations become one semi- and one anti-join against
  *    aggregated per-(order, supplier) lateness — each lineitem pass
  *    is a keyed aggregation, no correlated re-execution per row.
  *  - q401: Spark 4 VARIANT lateral explode — events.props parsed to
  *    VARIANT, `variant_explode` unnests each object field as (key,
  *    value) rows; census per key with numeric min/max. The
  *    semi-structured scan surface completing q163.
  */
object Training78 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q400_waiting_orders",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select("l_orderkey", "l_suppkey",
          "l_shipdate")
        val o = Tables(s, d, "orders").select("o_orderkey", "o_orderdate")
        // per (order, supplier): any late line? One keyed agg replaces
        // the per-row correlated subqueries of the textbook SQL.
        val perSupp = li
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
          .agg(max(when(datediff(col("l_shipdate").cast("date"),
              col("o_orderdate").cast("date")) > 90, 1).otherwise(0))
            .as("late"))
          .localCheckpoint() // three derived frames read it
        val multi = perSupp.groupBy("ok")
          .agg(count(lit(1)).as("n_supp"), sum("late").as("n_late"))
          .filter(col("n_supp") > 1 && col("n_late") === 1)
          .select("ok")
        // the culprit: the single late supplier on a qualifying order
        perSupp.filter(col("late") === 1)
          .join(multi, "ok")
          .groupBy(col("sk").as("s_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(Tables(s, d, "supplier").select("s_suppkey", "s_name"),
            "s_suppkey")
          .select("s_name", "numwait")
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""
        WITH ps AS (
          SELECT l_orderkey AS ok, l_suppkey AS sk,
                 max(CASE WHEN CAST(l_shipdate AS DATE)
                       > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        qual AS (
          SELECT ok FROM ps GROUP BY ok
          HAVING count(*) > 1 AND sum(late) = 1)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM ps JOIN qual USING (ok)
        JOIN supplier ON s_suppkey = ps.sk
        WHERE ps.late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20""")),

    QueryDef(
      "q401_variant_explode",
      (s, d) => {
        Tables(s, d, "events").selectExpr("parse_json(props) AS v")
          .createOrReplaceTempView("graft_ev_var")
        s.sql("""
          SELECT f.key,
                 count(*) AS n,
                 min(CAST(f.value AS BIGINT)) AS min_v,
                 max(CAST(f.value AS BIGINT)) AS max_v
          FROM graft_ev_var,
               LATERAL variant_explode(v) AS f
          GROUP BY f.key ORDER BY f.key""")
      },
      Some("""
        SELECT k AS key, CAST(count(*) AS BIGINT) AS n,
               min(v) AS min_v, max(v) AS max_v
        FROM (
          SELECT k, CAST(json_extract(j, '$.' || k) AS BIGINT) AS v
          FROM (SELECT props::JSON AS j,
                       unnest(json_keys(props::JSON)) AS k
                FROM events) u) t
        GROUP BY 1 ORDER BY key""")),
  )
}
