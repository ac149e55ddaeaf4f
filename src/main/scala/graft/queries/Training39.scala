package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}

/** Thirty-ninth wave — joint profiling, absorption analytics, BI
  * decomposition, forecast evaluation:
  *
  *  - q282: 2-D joint histogram (price × quantity) — the joint-
  *    distribution heatmap beside q57's 1-D histogram (drift in a
  *    correlation shows up here when both marginals look unchanged).
  *  - q283: Markov absorption probability — P(reach purchase within
  *    10 steps) per starting event type, from the q86 transition
  *    counts (funnel conversion as chain absorption).
  *  - q284: price-volume-mix decomposition — the "why did revenue
  *    change" BI report, exact in integer cents.
  *  - q285: seasonal-naive forecast backtest — the baseline every
  *    forecasting pipeline must beat, with MAE/WAPE over a holdout.
  */
object Training39 {
  val defs: Seq[QueryDef] = Seq(

    // ---- 2-D joint histogram: quantity deciles × price 10k-bands,
    // counts plus each cell's share in ppm. ONE map-side-combinable
    // agg over at most 100 keys — the joint-distribution monitor that
    // catches correlation drift invisible to 1-D marginals (q57).
    QueryDef(
      "q282_joint_histogram",
      (s, d) => {
        val binned = Tables(s, d, "lineitem")
          .select(
            least(expr("CAST(l_quantity AS BIGINT) div 5"), lit(9L)).as("qbin"),
            least(expr("CAST(floor(l_extendedprice / 10000.0) AS BIGINT)"), lit(9L))
              .as("pbin"))
        val g = binned.groupBy("qbin", "pbin").agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // 100-key dictionary: total + report
        val tot = g.agg(sum("n").as("total")) // from the dictionary, not a re-scan
        g.crossJoin(broadcast(tot))
          .select(col("qbin"), col("pbin"), col("n"),
            expr(halfUpSpark("1000000 * n", "total")).as("share_ppm"))
          .orderBy("qbin", "pbin")
      },
      Some(s"""
        WITH b AS (
          SELECT least(CAST(l_quantity AS BIGINT) // 5, 9) AS qbin,
                 least(CAST(floor(l_extendedprice / 10000.0) AS BIGINT), 9) AS pbin
          FROM lineitem),
        tot AS (SELECT count(*) AS total FROM b),
        g AS (SELECT qbin, pbin, count(*) AS n FROM b GROUP BY 1, 2)
        SELECT qbin, pbin, n,
               ${halfUpDuck("1000000 * n", "total")} AS share_ppm
        FROM g, tot ORDER BY qbin, pbin"""),
    ),

    // ---- Markov absorption: from per-(user,day) consecutive-event
    // transitions, the chain P(s→t) in exact micro probabilities
    // (dangling session ends keep row mass < 1 — they are the
    // non-converting absorber), and a_k(s) = P(absorb at 'purchase'
    // within k steps), iterated 10 times on the 5×5 DICTIONARY matrix
    // (driver-iterated exact integers — the bounded-collect
    // discipline; the data-sized work is only the transition count).
    // The oracle replays the identical 10 stages as generated CTEs.
    QueryDef(
      "q283_markov_absorption",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
        val trans = ev
          .withColumn("nxt", lead("event_type", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("s0"), col("nxt").as("t0"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val outMass = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        def halfUp(x: Long, n: Long): Long = (2 * x + n) / (2 * n)
        val p = trans.map { case (a, b, c) =>
          (a, b) -> halfUp(1000000L * c, outMass(a))
        }.toMap
        // pinned 5-state alphabet, identical to the oracle's hardcoded
        // list — deriving states from OBSERVED transitions would drop a
        // state's row entirely at a scale factor where that event type
        // never appears inside a within-day transition, while the
        // oracle still emits it with absorb=0.
        val states = Seq("click", "error", "purchase", "signup", "view")
        var a = states.map(st => st -> (if (st == "purchase") 1000000L else 0L)).toMap
        for (_ <- 1 to 10) {
          a = states.map { st =>
            if (st == "purchase") st -> 1000000L
            else st -> halfUp(
              states.map(t2 => p.getOrElse((st, t2), 0L) * a(t2)).sum, 1000000L)
          }.toMap
        }
        import s.implicits._
        states.map(st => (st, a(st))).toDF("state", "absorb10_micro")
          .orderBy("state")
      },
      Some {
        val states = Seq("click", "error", "purchase", "signup", "view")
        val stages = (1 to 10).map { i =>
          s"""a$i AS MATERIALIZED (
            SELECT st.state,
                   CASE WHEN st.state = 'purchase' THEN 1000000
                        ELSE ${halfUpDuck(
                          s"""CAST(coalesce((SELECT sum(p.p_micro * prev.absorb)
                               FROM p JOIN a${i - 1} prev ON prev.state = p.t0
                               WHERE p.s0 = st.state), 0) AS BIGINT)""",
                          "1000000")}
                   END AS absorb
            FROM st)"""
        }.mkString(",\n        ")
        s"""
        WITH r AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id,
                 lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                        ORDER BY ts, event_id) AS nxt
          FROM events),
        trans AS (
          SELECT event_type AS s0, nxt AS t0, count(*) AS c
          FROM r WHERE nxt IS NOT NULL GROUP BY 1, 2),
        om AS (SELECT s0, CAST(sum(c) AS BIGINT) AS m FROM trans GROUP BY 1),
        p AS (
          SELECT s0, t0, ${halfUpDuck("1000000 * c", "m")} AS p_micro
          FROM trans JOIN om USING (s0)),
        st AS (SELECT unnest(${states.map(s0 => s"'$s0'").mkString("[", ", ", "]")}) AS state),
        a0 AS (
          SELECT state, CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS absorb
          FROM st),
        $stages
        SELECT state, CAST(absorb AS BIGINT) AS absorb10_micro
        FROM a10 ORDER BY state"""
      },
    ),

    // ---- price-volume-mix: revenue change between the 1995-1997 and
    // 1998+ order periods, decomposed per priority into a VOLUME
    // effect ((nB−nA)·avgA, half-up cents on the exact rational) and
    // a PRICE effect (the exact residual, so volume + price == Δ BY
    // CONSTRUCTION — the decomposition never leaks rounding). Two
    // keyed aggs over exact integer cents; the report is
    // dictionary-sized.
    QueryDef(
      "q284_price_volume_mix",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderpriority"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"),
            (col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
              .as("is_a"))
        val g = o.groupBy("o_orderpriority")
          .agg(
            sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
            sum(when(col("is_a"), col("cents")).otherwise(0L)).as("sa"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"),
            sum(when(!col("is_a"), col("cents")).otherwise(0L)).as("sb"))
        g.select(
            col("o_orderpriority"), col("na"), col("nb"),
            col("sa").as("rev_a_cents"), col("sb").as("rev_b_cents"),
            (col("sb") - col("sa")).as("delta_cents"),
            expr(halfUpSpark("(nb - na) * sa", "na")).as("volume_effect_cents"))
          .withColumn("price_effect_cents",
            col("delta_cents") - col("volume_effect_cents"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        WITH g AS (
          SELECT o_orderpriority,
                 CAST(count(*) FILTER (WHERE o_orderdate < DATE '1998-01-01') AS BIGINT) AS na,
                 CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                          THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sa,
                 CAST(count(*) FILTER (WHERE o_orderdate >= DATE '1998-01-01') AS BIGINT) AS nb,
                 CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
                          THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sb
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, na, nb,
               sa AS rev_a_cents, sb AS rev_b_cents,
               sb - sa AS delta_cents,
               ${halfUpDuck("(nb - na) * sa", "na")} AS volume_effect_cents,
               (sb - sa) - ${halfUpDuck("(nb - na) * sa", "na")}
                 AS price_effect_cents
        FROM g ORDER BY o_orderpriority"""),
    ),

    // ---- seasonal-naive backtest: forecast(day) = actual(day − 7)
    // (the baseline any forecaster must beat), scored on the back
    // half of the event range with per-day absolute errors and the
    // corpus WAPE (Σ|err|/Σactual, exact ppm). One daily keyed agg;
    // the lag and the scoring run over the day dictionary.
    QueryDef(
      "q285_seasonal_naive_backtest",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(expr("CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)")
            .as("actual6"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        val bt = daily
          .withColumn("forecast6", lag("actual6", 7).over(w))
          .filter(col("forecast6").isNotNull &&
            col("day") >= lit("2024-01-16").cast("date"))
          .withColumn("abs_err6", abs(col("actual6") - col("forecast6")))
          .localCheckpoint(true) // day dictionary, read twice
        val wape = bt.agg(
          expr(halfUpSpark("1000000 * sum(abs_err6)", "sum(actual6)")).as("wape_ppm"))
        bt.crossJoin(broadcast(wape))
          .select("day", "actual6", "forecast6", "abs_err6", "wape_ppm")
          .orderBy("day")
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS actual6
          FROM events GROUP BY 1),
        bt AS (
          SELECT day, actual6,
                 lag(actual6, 7) OVER (ORDER BY day) AS forecast6
          FROM daily),
        sc AS (
          SELECT day, actual6, forecast6, abs(actual6 - forecast6) AS abs_err6
          FROM bt
          WHERE forecast6 IS NOT NULL AND day >= DATE '2024-01-16'),
        wape AS (
          SELECT ${halfUpDuck(
            "1000000 * CAST(sum(abs_err6) AS BIGINT)",
            "CAST(sum(actual6) AS BIGINT)")} AS wape_ppm
          FROM sc)
        SELECT day, actual6, forecast6, abs_err6, wape_ppm
        FROM sc, wape ORDER BY day"""),
    ),
  )
}
