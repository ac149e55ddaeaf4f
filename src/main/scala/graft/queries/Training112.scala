package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** One-hundred-twelfth wave — q85's bounded production twin (round-12
  * verdict item 2, the q132→q141 demo-vs-production precedent):
  *
  *  - q491: per-purchase click-overlap stats over the same 1-hour
  *    window as q85_interval_join, emitted as ONE ROW PER PURCHASE
  *    (count + earliest lag) instead of the raw pair list. q85's
  *    measured 4.4× wall at 10× data is pair mass — overlap pairs
  *    grow with per-bucket density² — and is the ledger's worst
  *    ratio; a join-then-aggregate form still ENUMERATES the pairs
  *    and measured 3.3×. This form never builds a pair: counts are
  *    rank arithmetic over one global prefix sum and the earliest
  *    click is a rank equi-join (see RangeJoin.intervalOverlapStats)
  *    — linear at any click density. q85 stays the declared
  *    oracle-truth pair form; the agreement spec (Training112Spec)
  *    replays THIS query from q85's exact output at harness scale.
  */
object Training112 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q491_interval_overlap",
      (s, d) => {
        import graft.operators.RangeJoin
        val hourUs = 3600000000L
        // one events scan: the click stream and the purchase probes both
        // read this materialized 3-column projection (a per-branch scan
        // would re-read the fact source once per side)
        val ev = Tables(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .localCheckpoint()
        val clicks = ev.filter(col("event_type") === "click").select(col("t"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("t").as("lo"), (col("t") + hourUs).as("hi"))
        RangeJoin.intervalOverlapStats(
            clicks, "t", purchases, "purchase_id", "lo", "hi")
          .select(col("purchase_id"),
            col("n_points").as("n_clicks"),
            col("min_lag").as("min_lag_us"))
      },
      Some("""
        WITH p AS (
          SELECT event_id AS purchase_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS lo
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t
          FROM events WHERE event_type = 'click'),
        hits AS (
          SELECT p.purchase_id, count(*) AS n_clicks,
                 min(c.t - p.lo) AS min_lag_us
          FROM p JOIN c
            ON c.t >= p.lo AND c.t < p.lo + 3600000000
          GROUP BY 1)
        SELECT p.purchase_id,
               CAST(coalesce(h.n_clicks, 0) AS BIGINT) AS n_clicks,
               h.min_lag_us
        FROM p LEFT JOIN hits h ON h.purchase_id = p.purchase_id""")),
  )
}
