package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}

/** Forty-first wave — monitoring bands, dispersion, BI movers, eval
  * curves:
  *
  *  - q290: daily quantile bands (p10/p50/p90 of event value) — the
  *    percentile monitor that q188/q154's mean-based detectors miss
  *    tail drift on.
  *  - q291: index of dispersion per event type (variance/mean — the
  *    overdispersion check before assuming Poisson traffic).
  *  - q292: top revenue-rank movers between periods — the BI "what
  *    changed" report on the part dimension.
  *  - q293: precision/recall/F1 curve over a threshold sweep — the
  *    operating-point picker behind q241's calibration and q279's
  *    fairness slices.
  */
object Training41 {
  val defs: Seq[QueryDef] = Seq(

    // ---- daily quantile bands: exact p10/p50/p90 of the event value
    // per day, rounded at 6 dp (Spark `percentile` and DuckDB
    // `quantile_cont` share the same linear interpolation — the
    // EquiDepthBins discipline). ONE keyed agg over days. NOTE: exact
    // oracle-truth form; the declared production twin is
    // q295_quantile_bands_tdigest (Training42) — per-day sketch agg
    // gated by the q134 rank-error contract. Reach for q295 at scale.
    QueryDef(
      "q290_daily_quantile_bands",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            count(lit(1)).as("n"),
            round(expr("percentile(value, 0.1)"), 6).as("p10"),
            round(expr("percentile(value, 0.5)"), 6).as("p50"),
            round(expr("percentile(value, 0.9)"), 6).as("p90"))
          .orderBy("day"),
      Some("""
        SELECT CAST(ts AS DATE) AS day, count(*) AS n,
               round(quantile_cont(value, 0.1), 6) AS p10,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90
        FROM events GROUP BY 1 ORDER BY day"""),
    ),

    // ---- index of dispersion: sample variance / mean of the value
    // per event type — >1 means overdispersed (Poisson assumptions
    // break), the check that gates q240-style noise calibration.
    // Moments through exact decimals (q60 discipline), one keyed agg.
    QueryDef(
      "q291_dispersion_index",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            Num.dsum(col("value")).as("sx"),
            Num.dsum(expr("value * value")).as("sxx"))
          .select(
            col("event_type"), col("n"),
            round(expr("sx / CAST(n AS DOUBLE)"), 6).as("mean_v"),
            round(expr(
              "(CAST(n AS DOUBLE) * sxx - sx * sx) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))"),
              6).as("var_v"))
          .withColumn("overdispersed", col("var_v") > col("mean_v"))
          .orderBy("event_type"),
      Some(s"""
        WITH m AS (
          SELECT event_type, count(*) AS n,
                 ${Num.dsumSql("value")} AS sx,
                 ${Num.dsumSql("value * value")} AS sxx
          FROM events GROUP BY 1)
        SELECT event_type, n,
               round(sx / CAST(n AS DOUBLE), 6) AS mean_v,
               round((CAST(n AS DOUBLE) * sxx - sx * sx) /
                     (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) AS var_v,
               round((CAST(n AS DOUBLE) * sxx - sx * sx) /
                     (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
                 > round(sx / CAST(n AS DOUBLE), 6) AS overdispersed
        FROM m ORDER BY event_type"""),
    ),

    // ---- top revenue-rank movers: parts ranked by exact-cents
    // revenue in the pre-1998 and 1998+ periods; the 10 largest
    // |Δrank| are the parts whose market position moved most — the
    // "what changed" BI report. The fact pass is one keyed two-period
    // agg; both ranks over the part dimension come from the TWO-PHASE
    // rank (ScalableRank: range-partition + partition-local sort +
    // broadcast prefix offsets) — the part dimension grows linearly
    // with the corpus, and a global row_number window would funnel all
    // of it through ONE task at 100 TB. Bit-identical to the global
    // window, which the oracle still states as plain row_number.
    QueryDef(
      "q292_rank_movers",
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"),
            (col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
              .as("is_a"))
          .groupBy("l_partkey")
          .agg(
            sum(when(col("is_a"), col("cents")).otherwise(0L)).as("rev_a"),
            sum(when(!col("is_a"), col("cents")).otherwise(0L)).as("rev_b"))
          .localCheckpoint(true) // part-dimension-sized, two rank passes
        import graft.operators.ScalableRank
        val ra = ScalableRank.withRowNumber(rev,
          Seq(col("rev_a").desc, col("l_partkey").asc), "rank_a")
        ScalableRank.withRowNumber(ra,
            Seq(col("rev_b").desc, col("l_partkey").asc), "rank_b")
          .withColumn("rank_delta", col("rank_a") - col("rank_b"))
          .select(col("l_partkey"), col("rev_a"), col("rev_b"),
            col("rank_a").cast("long").as("rank_a"),
            col("rank_b").cast("long").as("rank_b"),
            col("rank_delta").cast("long").as("rank_delta"))
          .orderBy(abs(col("rank_delta")).desc, col("l_partkey").asc)
          .limit(10)
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey,
                 CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                          THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS rev_a,
                 CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
                          THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS rev_b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1),
        ranked AS (
          SELECT l_partkey, rev_a, rev_b,
                 row_number() OVER (ORDER BY rev_a DESC, l_partkey) AS rank_a,
                 row_number() OVER (ORDER BY rev_b DESC, l_partkey) AS rank_b
          FROM rev)
        SELECT l_partkey, rev_a, rev_b, rank_a, rank_b,
               rank_a - rank_b AS rank_delta
        FROM ranked
        ORDER BY abs(rank_a - rank_b) DESC, l_partkey LIMIT 10"""),
    ),

    // ---- precision/recall/F1 threshold sweep: the rule classifier
    // ŷ = (o_totalprice > t) against outcome y = (status = 'F') at
    // five operating points — tp/fp/fn counted in ONE pass (the
    // 5-threshold dictionary broadcast onto the fact), metrics in
    // exact ppm including the harmonic F1.
    QueryDef(
      "q293_pr_curve",
      (s, d) => {
        import s.implicits._
        val th = Seq(50000L, 100000L, 150000L, 200000L, 250000L).toDF("t")
        val base = Tables(s, d, "orders")
          .select(col("o_totalprice"),
            (col("o_orderstatus") === "F").cast("long").as("y"))
        base.crossJoin(broadcast(th))
          .withColumn("yhat",
            (col("o_totalprice") > col("t").cast("double")).cast("long"))
          .groupBy("t")
          .agg(
            sum(expr("y * yhat")).as("tp"),
            sum(expr("(1 - y) * yhat")).as("fp"),
            sum(expr("y * (1 - yhat)")).as("fn"))
          .select(col("t"), col("tp"), col("fp"), col("fn"),
            expr(halfUpSpark("1000000 * tp", "(tp + fp)")).as("precision_ppm"),
            expr(halfUpSpark("1000000 * tp", "(tp + fn)")).as("recall_ppm"))
          .withColumn("f1_ppm", expr(halfUpSpark(
            "2 * precision_ppm * recall_ppm", "(precision_ppm + recall_ppm)")))
          .orderBy("t")
      },
      Some(s"""
        WITH th AS (SELECT unnest([50000, 100000, 150000, 200000, 250000]) AS t),
        base AS (
          SELECT o_totalprice,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders),
        g AS (
          SELECT t,
                 CAST(sum(y * yhat) AS BIGINT) AS tp,
                 CAST(sum((1 - y) * yhat) AS BIGINT) AS fp,
                 CAST(sum(y * (1 - yhat)) AS BIGINT) AS fn
          FROM (SELECT base.*, th.t,
                       CASE WHEN o_totalprice > CAST(t AS DOUBLE)
                            THEN 1 ELSE 0 END AS yhat
                FROM base CROSS JOIN th)
          GROUP BY 1),
        pr AS (
          SELECT t, tp, fp, fn,
                 ${halfUpDuck("1000000 * tp", "(tp + fp)")} AS precision_ppm,
                 ${halfUpDuck("1000000 * tp", "(tp + fn)")} AS recall_ppm
          FROM g)
        SELECT t, tp, fp, fn, precision_ppm, recall_ppm,
               ${halfUpDuck("2 * precision_ppm * recall_ppm",
                            "(precision_ppm + recall_ppm)")} AS f1_ppm
        FROM pr ORDER BY t"""),
    ),
  )
}
