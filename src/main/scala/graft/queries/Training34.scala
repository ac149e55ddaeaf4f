package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}

/** Thirty-fourth wave — SQL surface, keyed fitting, user analytics:
  *
  *  - q262: SQL PIVOT → UNPIVOT → named WINDOW clause in one statement
  *    (the Spark 4 relational-surface trio q17/q79 expose only through
  *    the DataFrame API).
  *  - q263: per-key OLS trend — q166's sufficient-statistics line fit,
  *    keyed by nation (the per-entity trend report).
  *  - q264: rolling 7-day distinct actives (WAU) — exact sliding
  *    distinct via the explode-to-window-end rewrite (no
  *    non-mergeable distinct state anywhere).
  *  - q265: top session paths — the first-3-events sequence mined per
  *    user-day (the n-gram extension of q86's pairwise transitions).
  */
object Training34 {
  val defs: Seq[QueryDef] = Seq(

    // ---- PIVOT / UNPIVOT / WINDOW as SQL: monthly order revenue
    // pivots wide by status, unpivots back to long (a lossless
    // round-trip — the point is the SYNTAX surface), then a NAMED
    // window computes month-over-month deltas per status. Revenue is
    // exact integer cents so the round-trip is hash-stable. Scale
    // shape: one keyed agg; the pivot/unpivot operate on the
    // month × 3-status dictionary; the MoM window is keyed by status.
    QueryDef(
      "q262_sql_pivot_unpivot",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_orders_pv")
        s.sql("""
          WITH agg AS (
            SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
                   o_orderstatus,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
            FROM graft_orders_pv GROUP BY 1, 2),
          piv AS (
            SELECT * FROM agg
            PIVOT (sum(rev) FOR o_orderstatus IN ('O' AS O, 'F' AS F, 'P' AS P))),
          unp AS (
            SELECT month, status, rev FROM piv
            UNPIVOT (rev FOR status IN (O, F, P)))
          SELECT month, status, rev,
                 rev - lag(rev) OVER w AS mom_delta
          FROM unp
          WINDOW w AS (PARTITION BY status ORDER BY month)
          ORDER BY status, month""")
      },
      Some("""
        WITH agg AS (
          SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                 o_orderstatus AS status,
                 CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev
          FROM orders GROUP BY 1, 2)
        SELECT month, status, rev,
               rev - lag(rev) OVER (PARTITION BY status ORDER BY month) AS mom_delta
        FROM agg
        ORDER BY status, month"""),
    ),

    // ---- per-nation OLS revenue trend: q166's closed-form fit from
    // the five sufficient statistics (exact DECIMAL(38,0) where
    // products exceed 64 bits), GROUPED by customer nation — the
    // per-entity trend report every monitoring stack runs. Scale
    // shape: dims broadcast onto the fact (the q03 join), then ONE
    // keyed two-level aggregate (nation×day, then nation); sufficient
    // statistics are map-side combined — points are never collected.
    QueryDef(
      "q263_grouped_trend",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"),
            datediff(col("l_shipdate").cast("date"), lit("1970-01-01")).as("x"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
        val o = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
        val c = Tables(s, d, "customer").select("c_custkey", "c_nationkey")
        val n = Tables(s, d, "nation").select("n_nationkey", "n_name")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name", "x")
          .agg(sum("cents").as("y"))
          .groupBy("n_name")
          .agg(
            count(lit(1)).as("n"),
            sum("x").as("sx"),
            expr("sum(CAST(y AS DECIMAL(38,0)))").as("sy"),
            sum(expr("CAST(x AS BIGINT) * CAST(x AS BIGINT)")).as("sxx"),
            expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))").as("sxy"))
          .select(
            col("n_name"), col("n").as("n_days"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6)""")
              .as("slope_cents_per_day"))
          .orderBy("n_name")
      },
      Some("""
        WITH daily AS (
          SELECT n_name,
                 date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS x,
                 CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        a AS (
          SELECT n_name, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 CAST(sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS BIGINT) AS sxx,
                 sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
          FROM daily GROUP BY 1)
        SELECT n_name, n AS n_days,
               round(
                 CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS slope_cents_per_day
        FROM a ORDER BY n_name"""),
    ),

    // ---- rolling 7-day distinct actives (WAU): sliding COUNT
    // DISTINCT has no mergeable state, so the scalable rewrite is
    // explode-to-window-end — each (user, day) contributes its user
    // to the 7 window-ends it falls in, then ONE keyed distinct +
    // count per end day. Work is exactly 7× the (user, day) mass —
    // linear, shuffle on the (wend, user) key, no window function at
    // all. Ends are restricted to observed days so the report range
    // is data-defined on both engines.
    QueryDef(
      "q264_sliding_distinct",
      (s, d) => {
        val ud = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .distinct()
          .localCheckpoint() // day spine + explode share one distinct
        val days = ud.select(col("day").as("wend")).distinct()
        ud.select(explode(expr("sequence(day, date_add(day, 6))")).as("wend"),
            col("user_id"))
          .join(broadcast(days), Seq("wend"))
          .distinct()
          .groupBy("wend")
          .agg(count(lit(1)).as("wau"))
          .orderBy("wend")
      },
      Some("""
        WITH ud AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day AS wend FROM ud),
        ex AS (
          SELECT DISTINCT ud.day + CAST(i AS INTEGER) AS wend, user_id
          FROM ud, unnest(range(0, 7)) AS t(i))
        SELECT ex.wend, count(*) AS wau
        FROM ex JOIN days ON days.wend = ex.wend
        GROUP BY 1 ORDER BY 1"""),
    ),

    // ---- top session paths: the first three events of every
    // user-day, in time order, as a '>'-joined path string; the
    // top-10 paths by frequency are the dominant entry flows (the
    // n-gram extension of q86's pairwise transition matrix). Scale
    // shape: ONE keyed window (user, day) that WindowGroupLimit
    // prunes to 3 rows per key map-side, one keyed ordered
    // aggregation, and a TakeOrdered top-10 — no global sort, no
    // self-join.
    QueryDef(
      "q265_top_paths",
      (s, d) => {
        val r = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id", "day")
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("rn") <= 3)
        r.groupBy("user_id", "day")
          .agg(
            count(lit(1)).as("k"),
            expr("""array_join(
                transform(array_sort(collect_list(struct(rn, event_type))),
                          p -> p.event_type), '>')""").as("path"))
          .filter(col("k") === 3)
          .groupBy("path")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(10)
      },
      Some("""
        WITH r AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS rn
          FROM events),
        p AS (
          SELECT user_id, day,
                 string_agg(event_type, '>' ORDER BY rn) AS path,
                 count(*) AS k
          FROM r WHERE rn <= 3 GROUP BY 1, 2)
        SELECT path, count(*) AS n
        FROM p WHERE k = 3
        GROUP BY 1 ORDER BY n DESC, path LIMIT 10"""),
    ),
  )
}
