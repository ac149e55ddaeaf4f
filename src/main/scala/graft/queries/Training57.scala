package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-seventh wave — physical-encoding planning and heavy-tail
  * diagnostics:
  *
  *  - q338: column-encoding planner — per-column cardinality/width
  *    statistics → dictionary-vs-plain byte estimates and an encoding
  *    recommendation (the write-side decision behind parquet dictionary
  *    encoding; wrong encodings at 100 TB are real money).
  *  - q339: Hill estimator of the co-purchase degree distribution's
  *    power-law tail (α = 1 + n/Σ ln(d/d_min)) — the skew diagnostic
  *    that decides whether hub caps (q223's degCap, q46's df cap) are
  *    load-bearing on this graph; lnMicro discipline for cross-engine
  *    parity.
  */
object Training57 {
  private val lnMicro = "CAST(round(ln(%s) * 1000000) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ---- encoding planner: for each candidate column, one aggregate
    // pass computes n, distinct count, total/avg byte width, then
    // estimates plain vs dictionary-encoded sizes (dict = value bytes
    // once + ceil(log2(card))-bit codes per row, the parquet
    // dictionary model) and recommends the smaller. Pure aggregates —
    // map-side combinable, no shuffle beyond the 4-key rollup; the
    // real write path reads exactly these stats from its first row
    // group. All integer arithmetic.
    QueryDef(
      "q338_encoding_planner",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        def stats(cName: String, e: String): DataFrame =
          li.select(expr(e).as("v"))
            .agg(
              count(lit(1)).as("n"),
              countDistinct(col("v")).as("card"),
              sum(length(col("v")).cast("long")).as("plain_bytes"))
            .select(lit(cName).as("column_name"), col("n"), col("card"),
              col("plain_bytes"),
              // dict size: distinct value bytes (card · avg width of
              // distinct values ≈ plain/n · card — conservative) +
              // ceil(log2(card)) bits per row, byte-rounded
              (expr("(plain_bytes div n) * card") +
                expr("(n * CAST(ceil(log2(card)) AS BIGINT) + 7) div 8"))
                .as("dict_bytes"))
            .withColumn("recommend",
              when(col("dict_bytes") < col("plain_bytes"), "dictionary")
                .otherwise("plain"))
        stats("l_returnflag", "l_returnflag")
          .unionByName(stats("l_linestatus", "l_linestatus"))
          .unionByName(stats("l_shipdate_str", "CAST(l_shipdate AS STRING)"))
          .unionByName(stats("l_orderkey_str", "CAST(l_orderkey AS STRING)"))
          .orderBy("column_name")
      },
      Some("""
        WITH s AS (
          SELECT 'l_returnflag' AS column_name, count(*) AS n,
                 count(DISTINCT l_returnflag) AS card,
                 CAST(sum(length(l_returnflag)) AS BIGINT) AS plain_bytes
          FROM lineitem
          UNION ALL
          SELECT 'l_linestatus', count(*), count(DISTINCT l_linestatus),
                 CAST(sum(length(l_linestatus)) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'l_shipdate_str', count(*),
                 count(DISTINCT CAST(l_shipdate AS VARCHAR)),
                 CAST(sum(length(CAST(l_shipdate AS VARCHAR))) AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'l_orderkey_str', count(*),
                 count(DISTINCT CAST(l_orderkey AS VARCHAR)),
                 CAST(sum(length(CAST(l_orderkey AS VARCHAR))) AS BIGINT)
          FROM lineitem)
        SELECT column_name, n, card, plain_bytes,
               CAST((plain_bytes // n) * card
                    + (n * CAST(ceil(log2(card)) AS BIGINT) + 7) // 8
                 AS BIGINT) AS dict_bytes,
               CASE WHEN (plain_bytes // n) * card
                         + (n * CAST(ceil(log2(card)) AS BIGINT) + 7) // 8
                         < plain_bytes
                    THEN 'dictionary' ELSE 'plain' END AS recommend
        FROM s ORDER BY column_name""")),

    // ---- Hill power-law tail estimator over co-purchase degrees:
    // α = 1 + n_tail / (Σ ln(d) − n_tail·ln(d_min)) for degrees ≥
    // d_min = 10, each log an lnMicro integer (rounded at source on
    // both engines — the q74/q287 discipline). Degrees are one keyed
    // agg over the edge list; the tail sum is a second dictionary-
    // sized agg. α ≈ 2-3 means hub caps are load-bearing; α large
    // means the degree distribution is thin-tailed.
    QueryDef(
      "q339_powerlaw_tail",
      (s, d) => {
        val e = graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))
        val und = graft.operators.Graphs.doubled(e)
        val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
        val tail = deg.filter(col("dg") >= 10)
          .select(expr(lnMicro.format("CAST(dg AS DOUBLE)")).as("ln_d"))
        tail.agg(
          count(lit(1)).as("n_tail"),
          sum("ln_d").as("sum_ln_micro"))
          .select(col("n_tail"), col("sum_ln_micro"),
            // alpha_micro = 1e6 + halfUp(n_tail * 1e12, D) where
            // D = sum_ln_micro - n_tail*ln(10)_micro (the micro-scaled
            // tail log-sum): (alpha-1) = n/(D/1e6), scaled to micro
            expr("CAST(1000000L + " +
              "(2 * 1000000000000L * n_tail + " +
              s"(sum_ln_micro - n_tail * ${lnMicro.format("10.0D")})) div " +
              s"(2 * (sum_ln_micro - n_tail * ${lnMicro.format("10.0D")})) " +
              "AS BIGINT)").as("alpha_micro"))
      },
      Some(s"""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        und AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        deg AS (SELECT u, count(*) AS dg FROM und GROUP BY 1),
        tail AS (
          SELECT ${lnMicro.replace("%s", "CAST(dg AS DOUBLE)")} AS ln_d
          FROM deg WHERE dg >= 10)
        SELECT count(*) AS n_tail,
               CAST(sum(ln_d) AS BIGINT) AS sum_ln_micro,
               CAST(1000000 +
                 (2 * 1000000000000 * count(*) +
                  (sum(ln_d) - count(*) * ${lnMicro.replace("%s", "10.0")})) //
                 (2 * (sum(ln_d) - count(*) * ${lnMicro.replace("%s", "10.0")}))
                 AS BIGINT) AS alpha_micro
        FROM tail"""),
    ),
  )
}
