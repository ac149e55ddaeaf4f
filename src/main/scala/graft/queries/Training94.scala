package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-fourth wave — cube materialization, cache sizing, and rank
  * correlation:
  *
  *  - q444: greedy view selection on the data-cube lattice
  *    (Harinarayan, Rajaraman & Ullman, SIGMOD'96) — the 8 group-by
  *    views over (nation, segment, priority) encoded as bitmasks,
  *    view sizes measured from ONE fact pass (then re-aggregated from
  *    the 625-row base dictionary), and three greedy picks each
  *    maximizing the total cost reduction Σ_w max(0, cost(w) −
  *    rows(v)) over the views w ⊆ v they can answer. THE classic
  *    cube-materialization algorithm, run as three chained lattice
  *    CTE steps identical in both dialects.
  *  - q445: working-set footprint curve from reuse gaps (Denning's
  *    WS theory; Xiang et al.'s footprint) — for window lengths τ,
  *    the time-averaged number of distinct users active in a sliding
  *    τ-window, computed EXACTLY from per-user inter-access gaps as
  *    Σ min(gap, τ) — one keyed lead window over the event trace, no
  *    sliding-window enumeration. The cache-sizing curve (how many
  *    keys a τ-sized state store must hold) straight from a trace.
  *  - q446: Kendall rank correlation (tau-a) between daily order
  *    volume and daily revenue — exact integer concordant /
  *    discordant / tie counts over the ~2.4k-day dictionary pair
  *    join; the rank-correlation complement of q174's Spearman with
  *    zero floating point until the final ppm.
  */
object Training94 {
  /** q444 base-views SQL (the one fact-table pass), per dialect. */
  private def viewsSql(ordersRel: String, custRel: String): String = {
    val dims = Seq("n", "s", "p")
    // view row counts for each of the 8 masks, from the base dictionary
    val counts = (0 to 7).map { mask =>
      val gb = dims.zipWithIndex.collect { case (d, i) if (mask & (1 << i)) != 0 => d }
      if (gb.isEmpty) s"SELECT $mask AS mask, CAST(1 AS BIGINT) AS vrows"
      else s"""SELECT $mask AS mask, CAST(count(*) AS BIGINT) AS vrows
               FROM (SELECT DISTINCT ${gb.mkString(", ")} FROM base) v$mask"""
    }.mkString(" UNION ALL ")
    s"""
      WITH base AS (
        SELECT c.c_nationkey AS n, c.c_mktsegment AS s,
               o.o_orderpriority AS p, count(*) AS cnt
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2, 3)
      $counts"""
  }

  /** q444 greedy steps over a `views`(mask, vrows) relation — shared
    * SQL text for both dialects (pure integer lattice algebra).
    * `prefixCtes` lets the oracle prepend the views CTE itself.
    */
  private def greedySql(viewsRel: String, prefixCtes: String = ""): String = {
    val steps = (1 to 3).map { k =>
      s"""cost${k - 1} AS (
          SELECT w.mask AS wm, min(v.vrows) AS c
          FROM $viewsRel w JOIN $viewsRel v
            ON (w.mask & v.mask) = w.mask
           AND v.mask IN (SELECT mask FROM mat${k - 1})
          GROUP BY w.mask),
        ben$k AS (
          SELECT v.mask, v.vrows,
                 CAST(sum(CASE WHEN c0.c > v.vrows THEN c0.c - v.vrows
                          ELSE 0 END) AS BIGINT) AS benefit
          FROM $viewsRel v JOIN cost${k - 1} c0 ON (c0.wm & v.mask) = c0.wm
          WHERE v.mask NOT IN (SELECT mask FROM mat${k - 1})
          GROUP BY v.mask, v.vrows),
        pick$k AS (
          SELECT mask, vrows, benefit FROM ben$k
          ORDER BY benefit DESC, mask LIMIT 1),
        mat$k AS (
          SELECT mask FROM mat${k - 1} UNION ALL SELECT mask FROM pick$k)"""
    }.mkString(",\n")
    val out = (1 to 3)
      .map(k => s"SELECT $k AS step, mask, vrows, benefit FROM pick$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${prefixCtes}mat0 AS (SELECT 7 AS mask),
      $steps
      SELECT CAST(step AS INT) AS step, CAST(mask AS INT) AS view_mask,
             vrows AS view_rows, benefit
      FROM ($out) picks ORDER BY step"""
  }

  private def footprintSql(spark: Boolean, eventsRel: String): String = {
    val ep = (c: String) =>
      if (spark) s"unix_micros($c)" else s"epoch_us(CAST($c AS TIMESTAMP))"
    val idiv = if (spark) "div" else "//"
    s"""
      WITH tr AS (
        SELECT user_id, ${ep("ts")} AS ts_us, event_id FROM $eventsRel),
      horizon AS (
        SELECT min(ts_us) AS h0, max(ts_us) AS h1 FROM tr),
      gaps AS (
        SELECT user_id, ts_us,
               lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                 AS next_us
        FROM tr),
      taus AS (SELECT CAST(tau_s AS BIGINT) AS tau_s
               FROM (VALUES (600), (3600), (21600), (86400)) AS t(tau_s))
      SELECT CAST(t.tau_s AS INT) AS tau_s,
             CAST(sum(least(coalesce(g.next_us, h.h1) - g.ts_us,
                            t.tau_s * 1000000)) AS BIGINT) AS presence_us,
             CAST(sum(least(coalesce(g.next_us, h.h1) - g.ts_us,
                            t.tau_s * 1000000))
                  $idiv ((max(h.h1) - max(h.h0)) $idiv 1000000) AS BIGINT)
               AS avg_ws_micro
      FROM gaps g CROSS JOIN taus t CROSS JOIN horizon h
      GROUP BY t.tau_s ORDER BY tau_s"""
  }

  private def kendallSql(spark: Boolean, ordersRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      WITH daily AS (
        SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
        FROM $ordersRel GROUP BY 1),
      pairs AS (
        SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS tie_y,
               CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END AS tie_xy
        FROM daily a JOIN daily b ON a.day < b.day),
      agg AS (
        SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
               CAST(sum(conc) AS BIGINT) AS concordant,
               CAST(sum(disc) AS BIGINT) AS discordant,
               CAST(sum(tie_x) AS BIGINT) AS ties_x,
               CAST(sum(tie_y) AS BIGINT) AS ties_y,
               CAST(sum(tie_xy) AS BIGINT) AS ties_xy
        FROM pairs)
      SELECT n_days, concordant, discordant, ties_x, ties_y, ties_xy,
             CAST(CASE WHEN concordant >= discordant
                  THEN ((concordant - discordant) * 1000000)
                         $idiv ((n_days * (n_days - 1)) $idiv 2)
                  ELSE -(((discordant - concordant) * 1000000)
                         $idiv ((n_days * (n_days - 1)) $idiv 2))
                  END AS BIGINT) AS tau_a_ppm
      FROM agg"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q444_view_selection_greedy",
      (s, d) => {
        // measure the 8 view sizes in one fact pass, then run the
        // greedy lattice algebra over the checkpointed 8-row relation
        // (the q432 split: never let CTE re-inlining touch the fact)
        Tables(s, d, "orders").createOrReplaceTempView("graft_vs_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_vs_customer")
        s.sql(viewsSql("graft_vs_orders", "graft_vs_customer"))
          .localCheckpoint()
          .createOrReplaceTempView("graft_vs_views")
        s.sql(greedySql("graft_vs_views"))
      },
      Some(greedySql("vs_views",
        s"vs_views AS MATERIALIZED (${viewsSql("orders", "customer")}),\n      "))),

    QueryDef(
      "q445_working_set_footprint",
      (s, d) => {
        Tables(s, d, "events").createOrReplaceTempView("graft_ws_events")
        s.sql(footprintSql(spark = true, "graft_ws_events"))
      },
      Some(footprintSql(spark = false, "events"))),

    QueryDef(
      "q446_kendall_tau",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_kt_orders")
        s.sql(kendallSql(spark = true, "graft_kt_orders"))
      },
      Some(kendallSql(spark = false, "orders"))),
  )
}
