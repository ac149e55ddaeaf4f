package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, QueryDef, Tables}
import graft.functions.GeometricMean

/** Third relational batch: RANGE window frames, array functions, and a
  * custom typed aggregate (UDAF surface).
  */
object Relational3 {
  val defs: Seq[QueryDef] = Seq(

    // ---- RANGE window frame: trailing-7-day order total per customer
    QueryDef(
      "q38_range_frame",
      (s, d) => {
        val days = datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp"))
        val w = Window.partitionBy("o_custkey").orderBy(days)
          .rangeBetween(-6, Window.currentRow)
        Tables(s, d, "orders")
          .withColumn("trail7_total",
            sum(col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double"))
          .select("o_orderkey", "o_custkey", "trail7_total")
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail7_total
        FROM orders""")),

    // ---- array construction/aggregation functions (string-joined for a
    // stable cross-engine representation)
    QueryDef(
      "q39_array_funcs",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy("user_id")
          .agg(
            concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
            size(collect_set(col("event_type"))).cast("long").as("n_types"),
            count(lit(1)).as("n_events")),
      Some("""
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
               CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types,
               count(*) AS n_events
        FROM events GROUP BY user_id""")),

    // ---- argmax/argmin aggregates
    QueryDef(
      "q56_arg_max_min",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(
            expr("max_by(o_orderkey, o_totalprice)").as("priciest_order"),
            expr("min_by(o_orderkey, o_totalprice)").as("cheapest_order"),
            max("o_totalprice").as("max_price"),
            min("o_totalprice").as("min_price")),
      Some("""
        SELECT o_orderstatus,
               max_by(o_orderkey, o_totalprice) AS priciest_order,
               min_by(o_orderkey, o_totalprice) AS cheapest_order,
               max(o_totalprice) AS max_price,
               min(o_totalprice) AS min_price
        FROM orders GROUP BY o_orderstatus""")),

    // ---- fixed-width histogram (bucketed distribution)
    QueryDef(
      "q57_histogram",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy(floor(col("l_extendedprice") / 10000.0).cast("long").as("bucket_10k"))
          .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("total")),
      Some(s"""
        SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket_10k,
               count(*) AS n, ${Num.dsumSql("l_extendedprice")} AS total
        FROM lineitem GROUP BY 1""")),

    // ---- window distribution functions: ntile / percent_rank / cume_dist
    QueryDef(
      "q58_window_distribution",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        Tables(s, d, "lineitem")
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", round(percent_rank().over(w), 6))
          .withColumn("cume", round(cume_dist().over(w), 6))
          .select("l_orderkey", "l_linenumber", "l_returnflag", "quartile", "pct_rank", "cume")
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_returnflag,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber)""")),

    // ---- sliding (hopping) event-time windows: 1h length, 30m hop —
    // each event lands in two windows
    QueryDef(
      "q59_sliding_window",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n")),
      Some("""
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
               count(*) AS n
        FROM (SELECT event_type,
                     unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                               - INTERVAL '30 minutes']) AS ws
              FROM events) t
        GROUP BY 1, 2""")),

    // ---- custom typed Aggregator (UDAF): geometric mean of prices
    QueryDef(
      "q54_custom_agg_geomean",
      (s, d) => {
        val geomean = udaf(GeometricMean)
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(geomean(col("l_extendedprice")), 4).as("geo_price"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT l_returnflag,
               round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag""")),

    // ---- custom physical operator: exact per-key top-k through
    // graft.plans.TopKPerKey (logical node → strategy → bounded-heap
    // exec; see TopKPerKey scaladoc for why this beats the window
    // rewrite at scale). The oracle IS the window rewrite — same rows,
    // different machinery. Order is total (totalprice DESC, orderkey
    // ASC tiebreak) so the result is deterministic.
    QueryDef(
      "q125_topk_perkey",
      (s, d) =>
        graft.plans.TopKPerKey(
          Tables(s, d, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          keyCols = Seq("o_orderpriority"),
          orderCols = Seq("o_totalprice" -> false, "o_orderkey" -> true),
          k = 3),
      Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
        WHERE rn <= 3""")),

    // ---- MAD robust outlier detection: the median-based sibling of the
    // wafer IQR filter (MAD is 50%-breakdown-robust where IQR is 25%).
    // Same agg→broadcast→re-agg shape: per-group median, |x - med|
    // median, then count rows beyond 3·MAD. Both medians are exact
    // `percentile` (rounded at source), so the session-wide t-digest
    // rewrite (spark.graft.approxQuantiles) is this operator's 100 TB
    // path too — three scans of the fact table become three single-pass
    // sketch aggregations, no per-group value buffering.
    QueryDef(
      "q127_mad_outliers",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select("l_returnflag", "l_extendedprice")
        val med = li.groupBy("l_returnflag")
          .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med"))
        val withMed = li.join(broadcast(med), "l_returnflag")
        val mad = withMed.groupBy("l_returnflag")
          .agg(round(expr("percentile(abs(l_extendedprice - med), 0.5)"), 6).as("mad"))
        withMed.join(broadcast(mad), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            max("med").as("med"), max("mad").as("mad"),
            count(lit(1)).as("n_rows"),
            sum(when(abs(col("l_extendedprice") - col("med")) > lit(3) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
      },
      Some("""
        WITH med AS (
          SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med
          FROM lineitem GROUP BY 1),
        mad AS (
          SELECT l.l_returnflag,
                 round(quantile_cont(abs(l.l_extendedprice - m.med), 0.5), 6) AS mad
          FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
          GROUP BY 1)
        SELECT l.l_returnflag, max(m.med) AS med, max(d.mad) AS mad,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN abs(l.l_extendedprice - m.med) > 3 * d.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM lineitem l
        JOIN med m ON m.l_returnflag = l.l_returnflag
        JOIN mad d ON d.l_returnflag = l.l_returnflag
        GROUP BY 1""")),
  )
}
