package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Num, QueryDef, Tables}
import graft.operators.AsOfJoin

/** Event-stream capability catalog: JSON extraction, as-of joins,
  * event-time tumbling windows via Structured Streaming, and
  * sessionization — the streaming surface SURVEY.md §2's "absent
  * categories" note says the harness demands.
  */
object Events {
  import Num.dsumSql

  val defs: Seq[QueryDef] = Seq(

    // ---- JSON scalar extraction + bucketed aggregation
    QueryDef(
      "q27_json_extract",
      (s, d) =>
        Tables(s, d, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value")),
      Some(s"""
        SELECT event_type,
               CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS k_mod,
               count(*) AS n,
               ${dsumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2""")),

    // ---- structured JSON parsing: from_json with a declared schema
    // (vs q27's path extraction) — nested field access + null-safety for
    // malformed rows
    QueryDef(
      "q55_from_json_struct",
      (s, d) =>
        Tables(s, d, "events")
          .withColumn("p", from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")))
          .groupBy((col("p.k") % 5).as("k_mod5"))
          .agg(
            count(lit(1)).as("n"),
            count(col("p.k")).as("n_parsed"),
            Num.dsum(col("value")).as("sum_value")),
      Some(s"""
        SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) % 5 AS k_mod5,
               count(*) AS n,
               count(json_extract_string(props, '$$.k')) AS n_parsed,
               ${dsumSql("value")} AS sum_value
        FROM events GROUP BY 1""")),

    // ---- as-of join: each purchase matched to the user's most recent
    // prior (or simultaneous) click. Union + per-key window sort — one
    // shuffle, no inequality nested-loop join; scales with key count.
    QueryDef(
      "q28_asof_join",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_event_id"), col("ts").as("click_ts"))
        AsOfJoin(purchases, clicks,
          keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightValueCols = Seq("click_event_id", "click_ts"),
          rightTieBreak = "click_event_id")
          .select(
            col("event_id"), col("user_id"), col("click_event_id"),
            (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("wait_us"))
      },
      Some("""
        SELECT p.event_id, p.user_id, c.event_id AS click_event_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
        FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                        WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ---- event-time tumbling window, executed through Structured
    // Streaming (file source → windowed agg → memory sink). Complete
    // output mode so the batch-equivalent result is fully emitted; the
    // watermark/append/late-data path is exercised in StreamingSpec.
    QueryDef(
      "q29_stream_tumbling",
      (s, d) => {
        import graft.streaming.EventStreams
        val agg = EventStreams.tumblingAgg(Tables.eventsStream(s, d), "1 hour")
        EventStreams.runToMemorySink(agg).select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
      },
      Some(s"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2""")),

    // ---- sessionization: 30-minute-gap session windows per user
    QueryDef(
      "q30_sessionization",
      (s, d) => {
        import graft.streaming.EventStreams
        EventStreams.sessionStats(
          EventStreams.sessionize(Tables(s, d, "events"), "30 minutes"))
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessioned AS (
          SELECT user_id,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged),
        per_session AS (
          SELECT user_id, session_id, count(*) AS n_ev
          FROM sessioned GROUP BY user_id, session_id)
        SELECT user_id, count(*) AS n_sessions, CAST(SUM(n_ev) AS BIGINT) AS n_events,
               MAX(n_ev) AS max_session_events
        FROM per_session GROUP BY user_id""")),

    // ---- streaming dedup: the event stream unioned with itself (every
    // row a planted duplicate) through watermarked dropDuplicates —
    // first occurrence survives, so the result is exactly the distinct
    // batch table the oracle reads.
    QueryDef(
      "q80_stream_dedup",
      (s, d) => {
        import graft.streaming.EventStreams
        val doubled = Tables.eventsStream(s, d).unionAll(Tables.eventsStream(s, d))
        EventStreams.runToMemorySink(EventStreams.dedupById(doubled), "append")
      },
      Some("""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        FROM events""")),

    // ---- stream-stream interval join: views joined to the same user's
    // purchases within 24h, both sides watermarked (bounded state).
    QueryDef(
      "q81_stream_stream_join",
      (s, d) => {
        import graft.streaming.EventStreams
        EventStreams.runToMemorySink(
          EventStreams.viewToPurchase(Tables.eventsStream(s, d)), "append")
      },
      Some("""
        SELECT a.event_id AS view_id, b.event_id AS purchase_id,
               a.user_id,
               epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
                 AS lag_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'purchase'
         AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
         AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 24 HOUR""")),

    // ---- fact-fact interval join WITHOUT an equi-key (any user's
    // click within 1h after any purchase), decomposed into a bucketed
    // equi-join by RangeJoin.pointInInterval — one shuffle on the time
    // bucket instead of the BroadcastNestedLoopJoin vanilla Spark plans
    // for a pure range predicate. PlanSpec asserts no NLJ survives.
    QueryDef(
      "q85_interval_join",
      (s, d) => {
        import graft.operators.RangeJoin
        val ev = Tables(s, d, "events")
        val hourUs = 3600000000L
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), unix_micros(col("ts")).as("t"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("lo"),
            (unix_micros(col("ts")) + hourUs).as("hi"))
        RangeJoin.pointInInterval(clicks, "t", purchases, "lo", "hi", hourUs)
          .select(col("click_id"), col("purchase_id"), (col("t") - col("lo")).as("lag_us"))
      },
      Some("""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id,
               epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
                 AS lag_us
        FROM events c JOIN events p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(CAST(c.ts AS TIMESTAMP)) >= epoch_us(CAST(p.ts AS TIMESTAMP))
         AND epoch_us(CAST(c.ts AS TIMESTAMP))
               < epoch_us(CAST(p.ts AS TIMESTAMP)) + 3600000000""")),

    // ---- sequence mining: per-user event-type transition (bigram)
    // counts — the Markov-chain view of user journeys. One keyed window
    // (user, time order) + one 25-key aggregate.
    QueryDef(
      "q86_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS prev_type
          FROM events)
        SELECT prev_type, event_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2""")),

    // ---- cohort retention: users grouped by first-seen day, counted
    // per days-elapsed offset. Two aggregations (first-seen per user,
    // then cohort×offset distinct users) — both shuffle on bounded key
    // spaces; the first-seen frame is the only per-user state.
    QueryDef(
      "q87_cohort_retention",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("date").as("day"))
        val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
        ev.distinct()
          .join(first, "user_id")
          .groupBy(col("cohort"),
            datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
          .agg(countDistinct("user_id").as("n_users"))
      },
      Some("""
        WITH ev AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
          FROM events),
        first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1)
        SELECT cohort, CAST(datediff('day', cohort, day) AS BIGINT) AS day_offset,
               count(DISTINCT user_id) AS n_users
        FROM ev JOIN first USING (user_id)
        GROUP BY 1, 2""")),

    // ---- time-decay weighted aggregate (half-life recency feature):
    // per user, each event carries half the weight of the next-newer
    // one; the weighted mean favors recent behavior. One keyed window
    // for the recency rank + one aggregation — the naive recursive EMA
    // is sequential, this closed form is embarrassingly parallel.
    // Weights are INTEGER 2^(40-rank) (newest 2^39, halving per step,
    // 0 past rank 40 — < 1e-12 of the newest, exhausted double
    // precision anyway): an exact power-of-two multiply never rounds,
    // and with 2-decimal inputs every product is an exact 2-decimal
    // number, so the DECIMAL(28,6) accumulation is lossless on both
    // engines. Fractional weights are NOT hash-comparable here: libm
    // pow(0.9,k) straddles 6-dp boundaries (≤1 ulp ≠ bit-pinned), and
    // even exact 1/2^k weights make products like value/64 land on
    // exact 6-dp midpoints, where Spark's HALF_UP and DuckDB's cast
    // rounding disagree — both observed as 1e-6 hash mismatches.
    QueryDef(
      "q90_time_decay",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("rk", row_number().over(w))
          .withColumn("wgt",
            when(col("rk") <= 40,
              expr("shiftleft(cast(1 as bigint), cast(40 - rk as int))"))
              .otherwise(lit(0L)))
          .groupBy("user_id")
          .agg(
            round(Num.dsum(col("wgt") * col("value")) / Num.dsum(col("wgt")), 6)
              .as("decayed_value"),
            count(lit(1)).as("n_events"))
      },
      Some(s"""
        WITH ranked AS (
          SELECT user_id, value,
                 row_number() OVER (
                     PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rk
          FROM events),
        weighted AS (
          SELECT user_id, value,
                 CASE WHEN rk <= 40
                      THEN (CAST(1 AS BIGINT) << (40 - rk))
                      ELSE 0 END AS wgt
          FROM ranked)
        SELECT user_id,
               round(${Num.dsumSql("wgt * value")} / ${Num.dsumSql("wgt")}, 6)
                 AS decayed_value,
               count(*) AS n_events
        FROM weighted GROUP BY user_id""")),

    // ---- streaming per-key admission quota: first-2-events-per-user
    // over the event stream via flatMapGroupsWithState (arbitrary
    // per-key state — a running admitted-count no window can express).
    // The harness file arrives as one micro-batch, so the admitted set
    // equals the batch-SQL top-2 per user and the query is fully
    // oracled; the cross-batch state semantics are pinned separately in
    // StreamingSpec with a MemoryStream.
    QueryDef(
      "q111_stream_quota",
      (s, d) => {
        import graft.streaming.EventStreams
        EventStreams.runToMemorySink(
          EventStreams.quotaPerKey(Tables.eventsStream(s, d), quota = 2),
          "append")
      },
      Some("""
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM (SELECT user_id, event_id, ts,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
              FROM events)
        WHERE rn <= 2""")),

    // ---- streaming first-touch per (user, event_type) via
    // transformWithState — the Spark 4 arbitrary-state API
    // (StatefulProcessor + MapState over the RocksDB state store), one
    // tier up from q111's flatMapGroupsWithState. One row per (user,
    // type) at its first occurrence; on the single-batch harness file
    // that set is exactly the batch min(ts) per (user, type), which is
    // the oracle. Cross-batch state carry is pinned in StreamingSpec.
    QueryDef(
      "q139_stream_first_touch",
      (s, d) => {
        import graft.streaming.EventStreams
        EventStreams.withRocksDbStateStore(s) {
          EventStreams.runToMemorySink(
            EventStreams.firstTouchPerType(Tables.eventsStream(s, d)),
            "append")
        }
      },
      Some("""
        SELECT user_id, event_type,
               min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_ts_us
        FROM events
        GROUP BY 1, 2""")),
  )
}
