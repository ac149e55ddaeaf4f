package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Nineteenth wave: warehouse-operations analytics. q213 simulates
  * min/max data skipping — the file-stats pruning every lakehouse
  * table format lives on — and measures how many file slabs a set of
  * date-range probes would scan vs prune. q214 is run-length encoding
  * of the per-user event-type sequence (the categorical sibling of the
  * q201 island sweep; the repetition signal behind bot/replay
  * detection). q215 is a time-constrained three-stage funnel
  * (view → click ≤1h → purchase ≤1h), built from keyed min-aggs and
  * equi-joins instead of sequential row scans. q216 is the cross-table
  * price-consistency audit (order headers vs line-item sums) in exact
  * integer cents.
  *
  * Scale shapes: q213's only data-sized pass is the per-slab stats agg
  * — probing is metadata × 12; q214 is ONE keyed window pass; q215 is
  * three keyed aggs chained by broadcast-friendly per-user joins (no
  * window over raw events, no self-join explosion); q216's join
  * shuffles both sides on the order key once.
  */
object Training19 {
  val defs: Seq[QueryDef] = Seq(

    // ---- min/max pruning simulation: slab lineitem into ~100-order
    // files (the q196 layout), collect per-slab (min, max) of
    // l_shipdate and row counts — ONE data pass — then probe with 12
    // consecutive 30-day windows anchored at the global min date.
    // A slab is scanned iff [min,max] overlaps the probe. Emits, per
    // probe: files scanned / pruned and rows behind each — the
    // data-skipping effectiveness table that decides whether a layout
    // (here: key-ordered slabs on a date-correlated key) earns its
    // keep. Probing is |slabs|×12 metadata rows broadcast-joined.
    QueryDef(
      "q213_minmax_pruning",
      (s, d) => {
        // slab stats are metadata-sized (|orders|/100 rows): materialize
        // once so the anchor lookup and the probe join don't re-run the
        // data-sized agg.
        val stats = Tables(s, d, "lineitem")
          .groupBy((col("l_orderkey") / 100).cast("long").as("file_id"))
          .agg(
            min(col("l_shipdate").cast("date")).as("d_min"),
            max(col("l_shipdate").cast("date")).as("d_max"),
            count(lit(1)).as("n_rows"))
          .localCheckpoint()
        val anchor = stats.agg(min("d_min").as("d0"))
        val probes = anchor.select(
          explode(sequence(lit(0L), lit(11L))).as("probe"),
          col("d0"))
          .select(col("probe"),
            expr("date_add(d0, CAST(probe * 30 AS INT))").as("p_lo"),
            expr("date_add(d0, CAST(probe * 30 + 29 AS INT))").as("p_hi"))
        stats.crossJoin(broadcast(probes))
          .groupBy("probe", "p_lo", "p_hi")
          .agg(
            sum(when(col("d_min") <= col("p_hi") &&
              col("d_max") >= col("p_lo"), 1L).otherwise(0L))
              .as("files_scanned"),
            sum(when(col("d_min") <= col("p_hi") &&
              col("d_max") >= col("p_lo"), 0L).otherwise(1L))
              .as("files_pruned"),
            sum(when(col("d_min") <= col("p_hi") &&
              col("d_max") >= col("p_lo"), col("n_rows")).otherwise(0L))
              .as("rows_scanned"))
      },
      Some("""
        WITH stats AS (
          SELECT CAST(l_orderkey // 100 AS BIGINT) AS file_id,
                 min(CAST(l_shipdate AS DATE)) AS d_min,
                 max(CAST(l_shipdate AS DATE)) AS d_max,
                 count(*) AS n_rows
          FROM lineitem GROUP BY 1),
        anchor AS (SELECT min(d_min) AS d0 FROM stats),
        probes AS (
          SELECT r.probe, d0 + CAST(r.probe * 30 AS INT) AS p_lo,
                 d0 + CAST(r.probe * 30 + 29 AS INT) AS p_hi
          FROM anchor, range(0, 12) r(probe)),
        j AS (SELECT * FROM stats, probes)
        SELECT probe, p_lo, p_hi,
               CAST(sum(CASE WHEN d_min <= p_hi AND d_max >= p_lo
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
               CAST(sum(CASE WHEN d_min <= p_hi AND d_max >= p_lo
                             THEN 0 ELSE 1 END) AS BIGINT) AS files_pruned,
               CAST(sum(CASE WHEN d_min <= p_hi AND d_max >= p_lo
                             THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        FROM j GROUP BY 1, 2, 3""")),

    // ---- run-length encoding of the per-user event-type sequence:
    // collapse consecutive repeats into runs (lag ≠ current starts a
    // run; run id = running sum of starts — the categorical q201
    // sweep), then per user: events, runs, and the longest run. A
    // max-run ≫ typical flags replay/bot traffic; n_runs/n_events is
    // the switching rate. ONE keyed window pass + two keyed aggs.
    QueryDef(
      "q214_event_runs",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val runs = Tables(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type"))
          .withColumn("prev", lag("event_type", 1).over(ord))
          .withColumn("is_new",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("run_id",
            sum("is_new").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "run_id")
          .agg(count(lit(1)).as("run_len"))
        runs.groupBy("user_id")
          .agg(
            sum("run_len").as("n_events"),
            count(lit(1)).as("n_runs"),
            max("run_len").as("max_run"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 event_id, event_type
          FROM events),
        flagged AS (
          SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts_us, event_id)
                      IS DISTINCT FROM event_type
                      THEN 1 ELSE 0 END AS is_new
          FROM ev),
        runs0 AS (
          SELECT user_id,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run_id
          FROM flagged),
        runs AS (
          SELECT user_id, run_id, count(*) AS run_len
          FROM runs0 GROUP BY 1, 2)
        SELECT user_id, CAST(sum(run_len) AS BIGINT) AS n_events,
               count(*) AS n_runs, max(run_len) AS max_run
        FROM runs GROUP BY user_id""")),

    // ---- time-constrained funnel view → click(≤1h) → purchase(≤1h):
    // per user, the FIRST view; the first click within an hour AFTER
    // that view; the first purchase within an hour after that click;
    // users counted at the deepest stage reached. Built from keyed
    // min-aggs joined per user — never a window over raw events, never
    // an event×event self-join beyond the keyed equi-joins (each user's
    // candidate set is filtered by the previous stage's timestamp
    // BEFORE aggregation, so each stage is one shuffle on user_id).
    QueryDef(
      "q215_constrained_funnel",
      (s, d) => {
        val hourUs = 3600000000L
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("v_ts"))
        val c = ev.where(col("event_type") === "click")
          .join(v, "user_id")
          .where(col("ts_us") > col("v_ts") &&
            col("ts_us") <= col("v_ts") + hourUs)
          .groupBy("user_id").agg(min("ts_us").as("c_ts"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, "user_id")
          .where(col("ts_us") > col("c_ts") &&
            col("ts_us") <= col("c_ts") + hourUs)
          .groupBy("user_id").agg(min("ts_us").as("p_ts"))
        v.join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(
            when(col("p_ts").isNotNull, 3)
              .when(col("c_ts").isNotNull, 2)
              .otherwise(1).as("stage"))
          .groupBy("stage").agg(count(lit(1)).as("n_users"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events),
        v AS (SELECT user_id, min(ts_us) AS v_ts FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.ts_us) AS c_ts
              FROM ev e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click'
                AND e.ts_us > v.v_ts AND e.ts_us <= v.v_ts + 3600000000
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.ts_us) AS p_ts
              FROM ev e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase'
                AND e.ts_us > c.c_ts AND e.ts_us <= c.c_ts + 3600000000
              GROUP BY e.user_id)
        SELECT stage, count(*) AS n_users FROM (
          SELECT CASE WHEN p.p_ts IS NOT NULL THEN 3
                      WHEN c.c_ts IS NOT NULL THEN 2
                      ELSE 1 END AS stage
          FROM v LEFT JOIN c ON v.user_id = c.user_id
                 LEFT JOIN p ON v.user_id = p.user_id) t
        GROUP BY stage""")),

    // ---- cross-table price-consistency audit in exact integer cents:
    // does each order header's total equal the sum of its lines'
    // extended·(1−discount)·(1+tax)? The float product is written
    // IDENTICALLY on both engines (same association), rounded to cents
    // at the source, then summed as BIGINT — so the audit's verdict is
    // deterministic. One row: orders, orders with lines, exact
    // matches, and the worst absolute discrepancy — the referential
    // health check run after every load.
    QueryDef(
      "q216_price_audit",
      (s, d) => {
        val lines = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            expr("""CAST(round(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 100) AS BIGINT)""")
              .as("line_cents"))
          .groupBy("o_orderkey")
          .agg(sum("line_cents").as("lines_cents"))
        Tables(s, d, "orders")
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("hdr_cents"))
          .join(lines, Seq("o_orderkey"), "left")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when(col("lines_cents").isNotNull, 1L).otherwise(0L))
              .as("n_with_lines"),
            sum(when(col("hdr_cents") === col("lines_cents"), 1L)
              .otherwise(0L)).as("n_exact_match"),
            max(when(col("lines_cents").isNotNull,
              abs(col("hdr_cents") - col("lines_cents"))))
              .as("max_abs_diff_cents"))
      },
      Some("""
        WITH lines AS (
          SELECT l_orderkey AS o_orderkey,
                 CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                     * (1 + l_tax) * 100) AS BIGINT))
                      AS BIGINT) AS lines_cents
          FROM lineitem GROUP BY 1),
        j AS (
          SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS hdr_cents,
                 l.lines_cents
          FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.o_orderkey)
        SELECT count(*) AS n_orders,
               CAST(sum(CASE WHEN lines_cents IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_lines,
               CAST(sum(CASE WHEN hdr_cents = lines_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_match,
               max(CASE WHEN lines_cents IS NOT NULL
                        THEN abs(hdr_cents - lines_cents) END)
                 AS max_abs_diff_cents
        FROM j""")),
  )
}
