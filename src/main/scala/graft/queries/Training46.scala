package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}

/** Forty-sixth wave — batch time/session windows and the Spark-4
  * function surface for URLs and bitmap distinct:
  *
  *  - q309: `window()` tumbling event-time buckets in BATCH mode (the
  *    q29 streaming shape without a stream — one keyed agg, window
  *    boundaries are pure arithmetic on the timestamp).
  *  - q310: `session_window()` in BATCH mode (the q30 gap semantics as
  *    a grouping expression): per-session rows with start/end, ONE
  *    keyed pass.
  *  - q311: URL parsing surface (`parse_url` HOST/PATH/QUERY-param)
  *    over planted URLs — per-row string work into a host-keyed agg.
  *  - q312: EXACT distinct counting via bitmap aggregates
  *    (`bitmap_bucket_number`/`bitmap_construct_agg`/`bitmap_count`) —
  *    the scale story for exact COUNT(DISTINCT intkey): each
  *    (group, bucket) holds a fixed 4KB bitmap, partial-aggregates
  *    merge by OR, and the final count is a popcount — one shuffle of
  *    bounded-width rows instead of a distinct over raw keys; exact,
  *    so the oracle is plain COUNT(DISTINCT).
  */
object Training46 {
  val defs: Seq[QueryDef] = Seq(

    // ---- tumbling 6-hour event-time windows, batch mode: the window
    // struct comes from the same expression streaming uses, so batch
    // backfill and the live stream (q29) bucket identically — the
    // lambda-architecture parity a pipeline needs. Micro-exact value
    // sums; boundaries formatted at source (q29 idiom).
    QueryDef(
      "q309_batch_time_window",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "6 hours").as("w"))
          .agg(
            count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("sum_micro"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("w_end"),
            col("n"), col("sum_micro"))
          .orderBy("w_start"),
      Some("""
        SELECT strftime(time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)),
                 '%Y-%m-%d %H:%M:%S') AS w_start,
               strftime(time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP))
                 + INTERVAL '6 hours', '%Y-%m-%d %H:%M:%S') AS w_end,
               count(*) AS n,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_micro
        FROM events GROUP BY 1, 2 ORDER BY w_start""")),

    // ---- session_window() as a BATCH grouping expression (30-minute
    // gap, q30's semantics: a gap >= 30 min starts a new session;
    // session end = last event + gap). One keyed agg — the planner
    // sorts within user partitions, never globally. The oracle is the
    // islands rewrite (lag + running flag sum).
    QueryDef(
      "q310_batch_session_window",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
            date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
            col("n_events"))
          .orderBy("user_id", "s_start"),
      Some("""
        WITH flagged AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessioned AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
               strftime(max(ts) + INTERVAL '30 minutes',
                 '%Y-%m-%d %H:%M:%S') AS s_end,
               count(*) AS n_events
        FROM sessioned GROUP BY user_id, session_id
        ORDER BY user_id, s_start""")),

    // ---- URL function surface: URLs planted from document columns
    // (host from doc_id mod, path from doc_id, ref from source), then
    // parse_url extracts HOST / PATH / a QUERY parameter — the
    // clickstream-normalization step. Per-row string work into one
    // host-keyed agg; the oracle reconstructs the same fields from the
    // closed form (so a parse that drops the query or mangles the path
    // hash-fails).
    QueryDef(
      "q311_url_functions",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            concat(lit("https://ex"), (col("doc_id") % 5).cast("string"),
              lit(".com/p/"), col("doc_id").cast("string"),
              lit("?ref="), col("source"), lit("&x=1")).as("url"))
          .select(
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
          .groupBy("host", "ref")
          .agg(count(lit(1)).as("n"),
            countDistinct("path").as("n_paths"))
          .orderBy("host", "ref"),
      Some("""
        SELECT 'ex' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host,
               source AS ref,
               count(*) AS n,
               count(DISTINCT '/p/' || CAST(doc_id AS VARCHAR)) AS n_paths
        FROM documents
        GROUP BY 1, 2 ORDER BY host, ref""")),

    // ---- exact bitmap distinct: custkeys bucketed by
    // bitmap_bucket_number, one fixed-width bitmap per
    // (priority, bucket) built by bitmap_construct_agg (partials merge
    // by OR — map-side combinable), popcounted and summed. Exactly
    // COUNT(DISTINCT o_custkey) — but the shuffle carries
    // ~distinct/32768 bounded-width bitmap rows per group instead of
    // every raw key, which is the warehouse-scale exact-distinct shape
    // (HLL q32 is the approximate sibling).
    QueryDef(
      "q312_bitmap_distinct",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy(col("o_orderpriority").as("pri"),
            expr("bitmap_bucket_number(o_custkey)").as("__bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
            .as("__bm"))
          .groupBy("pri")
          .agg(sum(expr("bitmap_count(__bm)")).as("n_distinct_cust"))
          .orderBy("pri"),
      Some("""
        SELECT o_orderpriority AS pri,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
        FROM orders GROUP BY 1 ORDER BY pri""")),
  )
}
