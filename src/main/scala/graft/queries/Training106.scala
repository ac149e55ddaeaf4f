package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{QueryDef, Tables}

/** Hundred-sixth wave — calendar edges, robust time-series filtering,
  * and storage estimation:
  *
  *  - q478: ISO week-date boundary census — the days whose ISO
  *    week-year differs from their calendar year (the Dec 29 – Jan 3
  *    zone every weekly rollup mishandles at least once). Engine date
  *    parity is the point: Spark's `extract(YEAROFWEEK)` must agree
  *    with DuckDB's `isoyear()` on every order date.
  *  - q479: Hampel outlier filter over daily revenue — exact 7-day
  *    centered rolling MEDIAN and rolling MAD via a bounded calendar
  *    self-join on the day dictionary (≤7 rows per center day; the
  *    windows are dictionary-sized however big the fact table). A day
  *    is flagged when |x − med| > 3·MAD — the robust spike detector
  *    whose breakdown point EWMA (q188) lacks.
  *  - q480: varint delta-encoding size estimator — LEB128 byte counts
  *    of consecutive key deltas for three key columns (documents,
  *    events, orders), against the fixed 8-byte baseline. One lag
  *    window + a CASE ladder per source; the savings census is the
  *    input to the q338 encoding planner's integer-column decision.
  */
object Training106 {
  // ---------------------------------------------------------------- q478

  private def isoWeekSql(spark: Boolean, ordersRel: String): String = {
    val isoYear =
      if (spark) "extract(YEAROFWEEK FROM CAST(o_orderdate AS DATE))"
      else "isoyear(CAST(o_orderdate AS DATE))"
    val isoWeek =
      if (spark) "weekofyear(CAST(o_orderdate AS DATE))"
      else "weekofyear(CAST(o_orderdate AS DATE))"
    s"""
      WITH days AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS day,
               CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS cal_year,
               CAST($isoYear AS BIGINT) AS iso_year,
               CAST($isoWeek AS BIGINT) AS iso_week
        FROM $ordersRel)
      SELECT cal_year,
             CAST(count(*) AS BIGINT) AS n_mismatch_days,
             min(day) AS first_day, max(day) AS last_day,
             CAST(min(iso_week) AS BIGINT) AS min_iso_week,
             CAST(max(iso_week) AS BIGINT) AS max_iso_week
      FROM days
      WHERE iso_year <> cal_year
      GROUP BY cal_year ORDER BY cal_year"""
  }

  // ---------------------------------------------------------------- q479

  private def hampelSql(spark: Boolean, ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    val dd = if (spark) "datediff(w.day, c.day)" else "(w.day - c.day)"
    s"""
      WITH daily AS $mat(
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS v
        FROM $ordersRel GROUP BY 1),
      win AS $mat(
        SELECT c.day AS cday, c.v AS cv, w.v AS wv
        FROM daily c JOIN daily w ON $dd BETWEEN -3 AND 3),
      med AS $mat(
        SELECT cday, cv,
               max(CASE WHEN rk = (n + 1) $idiv 2 THEN wv END) AS roll_med
        FROM (SELECT cday, cv, wv,
                     row_number() OVER (PARTITION BY cday ORDER BY wv, cday) AS rk,
                     count(*) OVER (PARTITION BY cday) AS n
              FROM win) t
        GROUP BY cday, cv),
      dev AS $mat(
        SELECT m.cday, m.cv, m.roll_med, abs(w.wv - m.roll_med) AS ad
        FROM med m JOIN win w ON w.cday = m.cday),
      madt AS $mat(
        SELECT cday, cv, roll_med,
               max(CASE WHEN rk = (n + 1) $idiv 2 THEN ad END) AS roll_mad
        FROM (SELECT cday, cv, roll_med, ad,
                     row_number() OVER (PARTITION BY cday ORDER BY ad, cday) AS rk,
                     count(*) OVER (PARTITION BY cday) AS n
              FROM dev) t
        GROUP BY cday, cv, roll_med)
      SELECT cday AS day, CAST(cv AS BIGINT) AS revenue,
             CAST(roll_med AS BIGINT) AS roll_med,
             CAST(roll_mad AS BIGINT) AS roll_mad,
             CAST(CASE WHEN abs(cv - roll_med) > 3 * roll_mad
                       THEN 1 ELSE 0 END AS BIGINT) AS flagged
      FROM madt ORDER BY day"""
  }

  // ---------------------------------------------------------------- q480

  /** LEB128 byte count of a non-negative delta (10 bytes covers the
    * full unsigned-64 range; deltas here are positive key gaps).
    */
  private def varintBytes(x: String): String =
    (1 to 9).map(b => s"WHEN $x < ${BigInt(2).pow(7 * b)} THEN $b")
      .mkString(s"CASE ", " ", " ELSE 10 END")

  private def varintSql(spark: Boolean, docsRel: String, eventsRel: String,
      ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    // two-level lag: in-bucket deltas ride a KEYED window (1024-key
    // buckets), bucket-boundary deltas come from a lag over the
    // metadata-sized bucket list — no single-partition exchange over the
    // key stream (a bare ORDER BY window would funnel all keys through
    // one task at 100 TB).
    def leg(src: String, rel: String, key: String) =
      s"""
        SELECT '$src' AS source, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(count(*) * 8 AS BIGINT) AS fixed_bytes,
               CAST(sum(${varintBytes("delta")}) AS BIGINT) AS varint_bytes
        FROM (
          SELECT CASE WHEN ink.pk IS NULL THEN ink.k - bm.prev_mx
                      ELSE ink.k - ink.pk END AS delta
          FROM (
            SELECT k, k $idiv 1024 AS b,
                   lag(k) OVER (PARTITION BY k $idiv 1024 ORDER BY k) AS pk
            FROM (SELECT DISTINCT $key AS k FROM $rel) t) ink
          JOIN (
            SELECT b, coalesce(lag(mx) OVER (ORDER BY b), CAST(0 AS BIGINT))
                     AS prev_mx
            FROM (SELECT k $idiv 1024 AS b, max(k) AS mx
                  FROM (SELECT DISTINCT $key AS k FROM $rel) t2
                  GROUP BY 1) bmeta) bm
            ON bm.b = ink.b) deltas"""
    s"""
      WITH allsrc AS $mat(
        ${leg("documents", docsRel, "doc_id")}
        UNION ALL ${leg("events", eventsRel, "event_id")}
        UNION ALL ${leg("orders", ordersRel, "o_orderkey")})
      SELECT source, n_keys, fixed_bytes, varint_bytes,
             CAST(((fixed_bytes - varint_bytes) * 1000000)
               ${if (spark) "div" else "//"} fixed_bytes AS BIGINT)
               AS savings_ppm
      FROM allsrc ORDER BY source"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q478_iso_week_census",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_iw_orders")
        s.sql(isoWeekSql(spark = true, "graft_iw_orders"))
      },
      Some(isoWeekSql(spark = false, "orders"))),

    QueryDef(
      "q479_hampel_filter",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_hp_orders")
        s.sql(hampelSql(spark = true, "graft_hp_orders"))
      },
      Some(hampelSql(spark = false, "orders"))),

    QueryDef(
      "q480_varint_delta_size",
      (s, d) => {
        Tables(s, d, "documents").createOrReplaceTempView("graft_vi_documents")
        Tables(s, d, "events").createOrReplaceTempView("graft_vi_events")
        Tables(s, d, "orders").createOrReplaceTempView("graft_vi_orders")
        s.sql(varintSql(spark = true,
          "graft_vi_documents", "graft_vi_events", "graft_vi_orders"))
      },
      Some(varintSql(spark = false, "documents", "events", "orders"))),
  )
}
