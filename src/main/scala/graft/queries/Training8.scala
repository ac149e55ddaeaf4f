package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.Skyline

/** Eighth wave: event attribution, preference queries, weighted order
  * statistics.
  *
  *  - q151 is U-shaped (position-based) multi-touch attribution — the
  *    standard marketing-analytics credit split, here as a keyed
  *    event-path computation with integer ppm weights.
  *  - q152 is a 2-D skyline (Pareto frontier) via the two-phase
  *    local-prune + broadcast-verify scheme in operators/Skyline.
  *  - q153 is the weighted median — the order statistic for weighted
  *    corpora (mixture weights, token counts), exact in cents.
  */
object Training8 {
  private val centsOf = "CAST(round(%s * 100, 0) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ---- U-shaped multi-touch attribution: every purchase distributes
    // its value over the click/view touches of the SAME user in the 7
    // preceding days — 100% to a lone touch, 50/50 for two, else
    // 40/40 first+last and the middle 20% split evenly. Weights are
    // exact ppm integers (truncating div, identical in both engines);
    // credited value is cents × ppm, so the aggregate is exact. The
    // join is keyed by user (the natural event partitioning; heavy
    // users are the documented salting escalation), and both windows
    // partition by purchase — no global state anywhere.
    QueryDef(
      "q151_attribution",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
            expr(centsOf.format("value")).as("cents"))
        val tch = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id").as("tid"), col("ts").as("tts"),
            col("event_type").as("touch_type"))
        val j = p.join(tch, Seq("user_id"))
          .filter(col("tts") < col("pts") &&
            col("tts") >= col("pts") - expr("INTERVAL 7 DAY"))
        val w = Window.partitionBy("pid")
        val wo = w.orderBy(col("tts").asc, col("tid").asc)
        j.withColumn("pos", row_number().over(wo).cast("long"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("weight_ppm",
            expr("""CASE WHEN n = 1 THEN 1000000L
                         WHEN n = 2 THEN 500000L
                         WHEN pos = 1 OR pos = n THEN 400000L
                         ELSE 200000L div (n - 2) END"""))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("touches"),
            sum(expr("cents * weight_ppm")).as("credit_micro_cents"))
      },
      Some(s"""
        WITH p AS (
          SELECT user_id, event_id AS pid, CAST(ts AS TIMESTAMP) AS pts,
                 ${centsOf.format("value")} AS cents
          FROM events WHERE event_type = 'purchase'),
        tch AS (
          SELECT user_id, event_id AS tid, CAST(ts AS TIMESTAMP) AS tts,
                 event_type AS touch_type
          FROM events WHERE event_type IN ('click', 'view')),
        j AS (
          SELECT pid, cents, tid, tts, touch_type
          FROM p JOIN tch USING (user_id)
          WHERE tts < pts AND tts >= pts - INTERVAL 7 DAY),
        sc AS (
          SELECT touch_type, cents,
                 row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS pos,
                 count(*) OVER (PARTITION BY pid) AS n
          FROM j)
        SELECT touch_type, count(*) AS touches,
               CAST(sum(cents * (CASE WHEN n = 1 THEN 1000000
                                      WHEN n = 2 THEN 500000
                                      WHEN pos = 1 OR pos = n THEN 400000
                                      ELSE 200000 // (n - 2) END))
                    AS BIGINT) AS credit_micro_cents
        FROM sc GROUP BY 1""")),

    // ---- supplier Pareto frontier: maximize total quantity supplied,
    // minimize total price charged — the suppliers no other supplier
    // beats on both axes. Exercises operators/Skyline: local per-
    // partition prune (no shuffle) + broadcast anti-join verify over
    // the tiny candidate set; oracled against the NOT EXISTS
    // formulation, which is the semantics, not the plan.
    QueryDef(
      "q152_skyline",
      (s, d) => {
        val per = Tables(s, d, "lineitem").groupBy("l_suppkey").agg(
          sum(expr(centsOf.format("l_quantity"))).as("qty_c"),
          sum(expr(centsOf.format("l_extendedprice"))).as("price_c"))
        Skyline.skyline2D(per, "l_suppkey", "qty_c", "price_c")
      },
      Some(s"""
        WITH per AS (
          SELECT l_suppkey,
                 CAST(sum(${centsOf.format("l_quantity")}) AS BIGINT) AS qty_c,
                 CAST(sum(${centsOf.format("l_extendedprice")}) AS BIGINT) AS price_c
          FROM lineitem GROUP BY 1)
        SELECT a.l_suppkey, a.qty_c, a.price_c
        FROM per a
        WHERE NOT EXISTS (
          SELECT 1 FROM per b
          WHERE b.qty_c >= a.qty_c AND b.price_c <= a.price_c
            AND (b.qty_c > a.qty_c OR b.price_c < a.price_c))""")),

    // ---- weighted median of price with quantity weights, per return
    // flag: smallest value whose cumulative weight reaches half the
    // total. Duplicate values are pre-combined (groupBy value) so the
    // cumulative window runs over the distinct-value table, ordered by
    // a total key — exact cents in, exact cents out; the t-digest
    // weighted-quantile rewrite is the 100 TB escape hatch exactly as
    // for the exact-percentile family.
    QueryDef(
      "q153_weighted_median",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select(col("l_returnflag"),
          expr(centsOf.format("l_extendedprice")).as("x_c"),
          expr(centsOf.format("l_quantity")).as("w_c"))
        val g = li.groupBy("l_returnflag", "x_c").agg(sum("w_c").as("w"))
        val wcum = Window.partitionBy("l_returnflag").orderBy("x_c")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wtot = Window.partitionBy("l_returnflag")
        g.withColumn("cw", sum("w").over(wcum))
          .withColumn("tw", sum("w").over(wtot))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy("l_returnflag")
          .agg(min("x_c").as("wmedian_c"), max("tw").as("total_w"))
      },
      Some(s"""
        WITH li AS (
          SELECT l_returnflag,
                 ${centsOf.format("l_extendedprice")} AS x_c,
                 ${centsOf.format("l_quantity")} AS w_c
          FROM lineitem),
        g AS (
          SELECT l_returnflag, x_c, CAST(sum(w_c) AS BIGINT) AS w
          FROM li GROUP BY 1, 2),
        c AS (
          SELECT l_returnflag, x_c,
                 sum(w) OVER (PARTITION BY l_returnflag ORDER BY x_c
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 sum(w) OVER (PARTITION BY l_returnflag) AS tw
          FROM g)
        SELECT l_returnflag, CAST(min(x_c) AS BIGINT) AS wmedian_c,
               CAST(max(tw) AS BIGINT) AS total_w
        FROM c WHERE cw * 2 >= tw GROUP BY 1""")),

    // ---- CUSUM changepoint detection on the per-type daily event
    // series: S_d = Σ_{i≤d}(x_i·D − T) is the cumulative deviation from
    // the series mean scaled by D (pure integers — no mean division),
    // and the day maximizing |S_d| is the classic CUSUM changepoint.
    // One small agg (type × day) then windows over the per-type day
    // table — the data-sized pass is the daily count only; everything
    // after runs on |types|·|days| rows.
    QueryDef(
      "q154_cusum_changepoint",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("x"))
        val per = Window.partitionBy("event_type")
        val cum = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("dcount", count(lit(1)).over(per))
          .withColumn("t", sum("x").over(per))
          .withColumn("s", sum(expr("x * dcount - t")).over(cum))
          .withColumn("m", max(abs(col("s"))).over(per))
          .filter(abs(col("s")) === col("m"))
          .groupBy("event_type")
          .agg(max("dcount").as("n_days"), max("m").as("max_abs_s"),
            min("day").as("cp_day"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                 count(*) AS x
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT event_type, day, x,
                 count(*) OVER (PARTITION BY event_type) AS dcount,
                 sum(x) OVER (PARTITION BY event_type) AS t
          FROM daily),
        c AS (
          SELECT event_type, day, dcount,
                 sum(x * dcount - t) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
          FROM w),
        m AS (
          SELECT event_type, day, dcount, abs(s) AS a,
                 max(abs(s)) OVER (PARTITION BY event_type) AS mm
          FROM c)
        SELECT event_type, CAST(max(dcount) AS BIGINT) AS n_days,
               CAST(max(mm) AS BIGINT) AS max_abs_s, min(day) AS cp_day
        FROM m WHERE a = mm GROUP BY 1""")),

    // ---- ordered-pattern detection via transformWithState ListState:
    // emit (user, ts) whenever a user's events complete the sequence
    // view → click → purchase in event order. Completes the Spark 4
    // state-primitive tier: MapState (q139), ValueState+timers
    // (sessionTimeout), ListState here — the state is the BOUNDED
    // last-2-types buffer per user, never the stream. The single-batch
    // harness run equals the batch lag-window oracle; cross-batch
    // buffer carry is pinned in StreamingSpec with a MemoryStream.
    QueryDef(
      "q155_stream_pattern",
      (s, d) => {
        import graft.streaming.EventStreams
        EventStreams.withRocksDbStateStore(s) {
          EventStreams.runToMemorySink(
            EventStreams.patternMatches(Tables.eventsStream(s, d)),
            "append")
        }
      },
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                 lag(event_type, 1) OVER w AS p1,
                 lag(event_type, 2) OVER w AS p2
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id))
        SELECT user_id, ts_us AS purchase_ts_us
        FROM seq
        WHERE event_type = 'purchase' AND p1 = 'click' AND p2 = 'view'""")),
  )
}
