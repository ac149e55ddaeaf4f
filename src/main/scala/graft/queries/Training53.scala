package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-third wave — nonparametric two-sample testing and watermark
  * policy:
  *
  *  - q331: Mann-Whitney U between the R and A price distributions in
  *    exact doubled-midrank integers (the two-sample rank test beside
  *    q258's k-sample Kruskal-Wallis), cumulated over the VALUE
  *    DICTIONARY (q329's discipline — window mass independent of row
  *    count).
  *  - q332: watermark-policy sweep — how many events each candidate
  *    watermark delay would drop, from per-event lateness against the
  *    running per-user event-time maximum (q224's disorder measure,
  *    swept over the operational knob a stream operator must pick).
  */
object Training53 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Mann-Whitney U in exact integers: with per-(group, value)
    // counts and the pooled cumulative over the value dictionary,
    // every value's DOUBLED midrank 2m(v) = 2·cum_before(v) + c(v) + 1
    // is an exact integer, so 2·R₁ = Σ c₁(v)·2m(v) and
    // 2·U₁ = 2·R₁ − n₁(n₁+1) are exact — no float ranks, fully
    // tie-aware. One data-sized keyed count; everything after runs on
    // the distinct-price dictionary. (U's null moments for a z-gate
    // are a driver-side formula; the exact statistic is the contract.)
    QueryDef(
      "q331_mann_whitney",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("f"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
        val cnt = li.groupBy("cents")
          .agg(
            sum(when(col("f") === "R", 1L).otherwise(0L)).as("c1"),
            sum(when(col("f") === "A", 1L).otherwise(0L)).as("c2"))
        // exclusive prefix over the distinct-price dictionary via the
        // two-phase prefix sum (the dictionary grows with price
        // cardinality — the q436 class; no unpartitioned window)
        graft.operators.ScalableRank
          .withPrefixSum(cnt, Seq(col("cents")), col("c1") + col("c2"), "cuminc")
          .withColumn("cumb", col("cuminc") - col("c1") - col("c2"))
          .select(col("c1"), col("c2"),
            (col("cumb") * 2 + col("c1") + col("c2") + 1).as("m2"))
          .agg(
            sum("c1").as("n1"), sum("c2").as("n2"),
            sum(col("c1") * col("m2")).as("r1_x2"))
          .select(col("n1"), col("n2"), col("r1_x2"),
            (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"))
      },
      Some("""
        WITH li AS (
          SELECT l_returnflag AS f,
                 CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        cnt AS (
          SELECT cents,
                 CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM li GROUP BY 1),
        m AS (
          SELECT c1, c2,
                 coalesce(CAST(sum(c1 + c2) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) * 2 + c1 + c2 + 1 AS m2
          FROM cnt)
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * m2) AS BIGINT) AS r1_x2,
               CAST(sum(c1 * m2) - sum(c1) * (sum(c1) + 1) AS BIGINT) AS u1_x2
        FROM m""")),

    // ---- watermark-policy sweep: per-event lateness against the
    // running per-user event-time maximum (the q224 disorder measure,
    // one keyed window pass in arrival order), then ONE conditional
    // agg answering "how many events would each candidate watermark
    // delay drop" for the operational ladder 0 / 1 min / 5 min /
    // 30 min — the table a stream operator reads to pick
    // withWatermark for q29/q30/q80.
    QueryDef(
      "q332_watermark_sweep",
      (s, d) => {
        val arrival = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val late = Tables(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("maxb", max("tus").over(arrival))
          .withColumn("late_us",
            greatest(coalesce(col("maxb") - col("tus"), lit(0L)), lit(0L)))
        late.agg(
          count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("drop_w0"),
          sum(when(col("late_us") > 60000000L, 1L).otherwise(0L)).as("drop_w1m"),
          sum(when(col("late_us") > 300000000L, 1L).otherwise(0L)).as("drop_w5m"),
          sum(when(col("late_us") > 1800000000L, 1L).otherwise(0L)).as("drop_w30m"))
      },
      Some("""
        WITH late AS (
          SELECT greatest(coalesce(
                   CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT)
                   - epoch_us(CAST(ts AS TIMESTAMP)), 0), 0) AS late_us
          FROM events)
        SELECT count(*) AS n_events,
               CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS drop_w0,
               CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS drop_w1m,
               CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS drop_w5m,
               CAST(sum(CASE WHEN late_us > 1800000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS drop_w30m
        FROM late""")),
  )
}
