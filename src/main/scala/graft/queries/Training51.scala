package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-first wave — stratified survey sampling and sliding sketch
  * windows:
  *
  *  - q326: per-source systematic PPS sampling (q308's design run
  *    independently inside every stratum) — ONE keyed window pass, the
  *    deterministic stratified sampler for dashboard-reproducible
  *    corpus audits.
  *  - q327: trailing-7-day distinct users via per-day HLL sketches
  *    union-merged over the DAY DICTIONARY — the sliding-distinct
  *    shape that works at 100 TB (the exact form must re-touch every
  *    event 7 times; the sketch form touches data once and merges 7
  *    sketch rows per window), gated by the lgK=14 error contract
  *    against the exact witness.
  */
object Training51 {
  val defs: Seq[QueryDef] = Seq(

    // ---- stratified systematic PPS: documents weighted by character
    // length, cumulated per source in doc_id order (ONE keyed window —
    // partitioned by source, so no single-partition exchange), step =
    // stratum total / 16; each boundary crossing selects a document.
    // Inclusion probability ∝ length within each source, zero
    // randomness. Report per stratum: population, selections, and the
    // sampled-weight share in ppm (≈ 1e6·n/16 ± edge effects — the
    // self-weighting property systematic PPS is chosen for).
    QueryDef(
      "q326_stratified_pps",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("source"), col("doc_id"),
            length(col("text")).cast("long").as("w"))
        val win = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = docs.groupBy("source").agg(sum("w").as("total"))
        docs
          .withColumn("cum", sum("w").over(win))
          .join(broadcast(tot), "source")
          .withColumn("step", greatest(expr("total div 16"), lit(1L)))
          .withColumn("sel",
            expr("cum div step > (cum - w) div step"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("sel"), 1L).otherwise(0L)).as("n_sampled"),
            max("total").as("total_w"),
            sum(when(col("sel"), col("w")).otherwise(0L)).as("sampled_w"))
          .select(col("source"), col("n_docs"), col("n_sampled"),
            expr("CAST((2 * 1000000 * sampled_w + total_w) div (2 * total_w) AS BIGINT)")
              .as("sampled_share_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH docs AS (
          SELECT source, doc_id, CAST(length(text) AS BIGINT) AS w
          FROM documents),
        c AS (
          SELECT source, doc_id, w,
                 CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 greatest(CAST(sum(w) OVER (PARTITION BY source) AS BIGINT)
                   // 16, 1) AS step,
                 CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS total
          FROM docs)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN cum // step > (cum - w) // step
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST((2 * 1000000 * sum(CASE WHEN cum // step > (cum - w) // step
                                            THEN w ELSE 0 END) + max(total))
                    // (2 * max(total)) AS BIGINT) AS sampled_share_ppm
        FROM c GROUP BY source ORDER BY source""")),

    // ---- sliding 7-day distinct users from per-day HLL sketches: the
    // data is scanned ONCE into ~30 day-sketches; every trailing
    // window is answered by hll_union_agg over ≤ 7 sketch rows (a day-
    // dictionary self-join). The exact witness (explode each event
    // into the ≤ 7 windows it belongs to — the form whose cost is 7×
    // the data) is computed only as oracle truth; hll_ok gates the
    // estimate at ±5% (lgK=14 ⇒ ~0.8% rse, ~6σ headroom).
    QueryDef(
      "q327_sliding_hll_distinct",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val daySk = ev.groupBy("day")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
          .localCheckpoint() // window self-join reads it twice
        val windows = daySk.select(col("day").as("win_day"))
        val merged = windows.join(daySk,
          datediff(col("win_day"), col("day")).between(0, 6))
          .groupBy("win_day")
          .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
            .as("n_est"))
        val exact = ev
          .select(explode(expr("sequence(day, date_add(day, 6))")).as("win_day"),
            col("user_id"))
          .join(windows, Seq("win_day"), "left_semi")
          .groupBy("win_day")
          .agg(countDistinct("user_id").as("n_exact"))
        exact.join(merged, Seq("win_day"))
          .select(col("win_day"), col("n_exact"),
            (abs(col("n_est") - col("n_exact")) * 20 <= col("n_exact"))
              .as("hll_ok"))
          .orderBy("win_day")
      },
      Some("""
        WITH ev AS (
          SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day FROM ev),
        win AS (
          SELECT d.day AS win_day, e.user_id
          FROM days d JOIN ev e
            ON e.day <= d.day AND e.day >= d.day - INTERVAL '6 days')
        SELECT win_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS hll_ok
        FROM win GROUP BY 1 ORDER BY win_day""")),
  )
}
