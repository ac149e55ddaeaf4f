package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}

/** Thirty-third wave — nonparametric testing, distribution comparison,
  * time-series decomposition, graph structure:
  *
  *  - q258: Kruskal–Wallis rank test (the k-group generalization of
  *    q173's Mann–Whitney) with tie correction — midranks carried in
  *    exact doubled-integer form over the value dictionary.
  *  - q259: Jensen–Shannon divergence of each source's language
  *    distribution vs the corpus — the symmetric, bounded drift
  *    measure (complements q148 PSI / q146 KS), fully integer via
  *    the lnMicro discipline.
  *  - q260: seasonal decomposition of the event series (centered
  *    7-day trend, day-of-week seasonal, residual anomalies) in
  *    exact micro-integers — the STL-lite sibling of q188's EWMA.
  *  - q261: degree assortativity of the co-purchase graph (Pearson
  *    over edge endpoint degrees) — one exact-moment aggregate over
  *    the edge list, the q60 discipline on graph structure.
  */
object Training33 {
  private val lnMicro = "CAST(round(ln(%s) * 1000000) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ---- Kruskal–Wallis H across return-flag groups on quantity:
    // ranks are midranks over the VALUE DICTIONARY (50 distinct
    // quantities — the q174 midrank machinery: the only data-sized
    // pass is the (group, value) count; every window/join after runs
    // over the dictionary). Midranks are carried doubled (2·midrank =
    // 2·cum_before + t + 1) so rank sums stay exact BIGINTs; H uses
    // the DEVIATION form H = 12/(N(N+1))·Σ n_g·(r̄_g − (N+1)/2)²
    // (algebraically equal to the rank-sum form 12/(N(N+1))·ΣR²/n −
    // 3(N+1), without the two large near-cancelling terms), assembled
    // as a fixed IEEE chain on decimal-exact group terms (the q60
    // discipline); tie-corrected H' = H/C, C = 1 − Σ(t³−t)/(N³−N).
    QueryDef(
      "q258_kruskal_wallis",
      (s, d) => {
        val gv = Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            col("l_quantity").cast("long").as("v"))
          .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
          // dictionary-sized (groups × values): checkpoint so the five
          // downstream aggregates share ONE scan of the fact table
          .localCheckpoint(true)
        val dict = gv.groupBy("v").agg(sum("cnt").as("tt"))
          .withColumn("cumb", coalesce(sum("tt").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("m2", lit(2L) * col("cumb") + col("tt") + 1L)
        val pg = gv.join(broadcast(dict.select("v", "m2")), Seq("v"))
          .groupBy("g")
          .agg(sum("cnt").as("ng"), sum(col("cnt") * col("m2")).as("r2g"))
        val tot = pg.agg(sum("ng").as("n"))
        val sTerm = pg.crossJoin(broadcast(tot))
          .select(expr(
            """cast(ng as double) *
               ((cast(r2g as double) / (2.0 * cast(ng as double)) -
                 cast(n + 1 as double) / 2.0) *
                (cast(r2g as double) / (2.0 * cast(ng as double)) -
                 cast(n + 1 as double) / 2.0))""").as("term"))
          .agg(Num.dsum(col("term")).as("s2"))
        val ties = dict
          .select(expr(
            """cast(tt as double) * cast(tt as double) * cast(tt as double) -
               cast(tt as double)""").as("tie"))
          .agg(Num.dsum(col("tie")).as("tsum"))
        val groups = pg.agg(count(lit(1)).as("n_groups"))
        broadcast(tot).crossJoin(broadcast(sTerm))
          .crossJoin(broadcast(ties)).crossJoin(broadcast(groups))
          .select(
            col("n"), col("n_groups"),
            round(expr(
              "(12.0 / (cast(n as double) * (cast(n as double) + 1.0))) * s2"),
              6).as("h"),
            round(expr(
              """((12.0 / (cast(n as double) * (cast(n as double) + 1.0))) * s2) /
                 (1.0 - tsum / (cast(n as double) * cast(n as double) * cast(n as double) - cast(n as double)))"""),
              6).as("h_corrected"))
      },
      Some(s"""
        WITH gv AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
                 count(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        dict AS (
          SELECT v, tt,
                 coalesce(sum(tt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM (SELECT v, CAST(sum(cnt) AS BIGINT) AS tt FROM gv GROUP BY 1)),
        m AS (SELECT v, 2 * cumb + tt + 1 AS m2, tt FROM dict),
        pg AS (
          SELECT g, CAST(sum(cnt) AS BIGINT) AS ng,
                 CAST(sum(cnt * m2) AS BIGINT) AS r2g
          FROM gv JOIN m USING (v) GROUP BY 1),
        tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n FROM pg),
        s2t AS (
          SELECT ${Num.dsumSql(
            """CAST(ng AS DOUBLE) *
               ((CAST(r2g AS DOUBLE) / (2.0 * CAST(ng AS DOUBLE)) -
                 CAST(n + 1 AS DOUBLE) / 2.0) *
                (CAST(r2g AS DOUBLE) / (2.0 * CAST(ng AS DOUBLE)) -
                 CAST(n + 1 AS DOUBLE) / 2.0))""")} AS s2
          FROM pg, tot),
        tiet AS (
          SELECT ${Num.dsumSql(
            """CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE) -
               CAST(tt AS DOUBLE)""")} AS tsum
          FROM m),
        gt AS (SELECT count(*) AS n_groups FROM pg)
        SELECT n, n_groups,
               round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))) * s2, 6) AS h,
               round(((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))) * s2) /
                     (1.0 - tsum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) AS h_corrected
        FROM tot, s2t, tiet, gt"""),
    ),

    // ---- Jensen–Shannon divergence, per source vs the corpus: with
    // P = source lang distribution (counts c over n) and Q = corpus
    // (counts dd over u), the mixture ratios reduce to exact integer
    // rationals — p/m = 2cu/(cu + dd·n), q/m = 2·dd·n/(cu + dd·n) —
    // so each log factor is lnMicro of an exact ratio and both KL
    // halves assemble by half-up integer division. JSD's bounds
    // (0 ≤ JSD ≤ ln 2 ≈ 693147 micro-nats) make the figure directly
    // comparable across sources — the symmetric complement to q148's
    // unbounded PSI. Scale shape: the only data-sized pass is the
    // (source, lang) count; the grid is dictionary² and broadcast.
    QueryDef(
      "q259_js_divergence",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val sl = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        val gl = docs.groupBy("lang").agg(count(lit(1)).as("dd"))
        val ns = docs.groupBy("source").agg(count(lit(1)).as("n"))
        val u = docs.agg(count(lit(1)).as("u"))
        val grid = ns.crossJoin(broadcast(gl)).crossJoin(broadcast(u))
          .join(sl, Seq("source", "lang"), "left")
          .withColumn("c0", coalesce(col("c"), lit(0L)))
        val lnP = lnMicro.format(
          "(2.0 * cast(c0 as double) * cast(u as double)) / (cast(c0 as double) * cast(u as double) + cast(dd as double) * cast(n as double))")
        val lnQ = lnMicro.format(
          "(2.0 * cast(dd as double) * cast(n as double)) / (cast(c0 as double) * cast(u as double) + cast(dd as double) * cast(n as double))")
        grid
          .groupBy("source")
          .agg(
            max("n").as("n_docs"),
            sum(when(col("c0") > 0, col("c0") * expr(lnP)).otherwise(0L)).as("sp"),
            sum(col("dd") * expr(lnQ)).as("sq"),
            max("u").as("u0"))
          .select(
            col("source"), col("n_docs"),
            expr(halfUpSpark("sp", "n_docs")).as("kl_pm_micro"),
            expr(halfUpSpark("sq", "u0")).as("kl_qm_micro"))
          .withColumn("jsd_micro",
            expr(halfUpSpark("(kl_pm_micro + kl_qm_micro)", "2")))
          .orderBy("source")
      },
      Some {
        val lnP = lnMicro.format(
          "(2.0 * CAST(c0 AS DOUBLE) * CAST(u AS DOUBLE)) / (CAST(c0 AS DOUBLE) * CAST(u AS DOUBLE) + CAST(dd AS DOUBLE) * CAST(n AS DOUBLE))")
        val lnQ = lnMicro.format(
          "(2.0 * CAST(dd AS DOUBLE) * CAST(n AS DOUBLE)) / (CAST(c0 AS DOUBLE) * CAST(u AS DOUBLE) + CAST(dd AS DOUBLE) * CAST(n AS DOUBLE))")
        s"""
        WITH sl AS (
          SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        gl AS (SELECT lang, count(*) AS dd FROM documents GROUP BY 1),
        ns AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        ut AS (SELECT count(*) AS u FROM documents),
        grid AS (
          SELECT g.source, g.lang, g.n, g.dd, g.u,
                 coalesce(sl.c, 0) AS c0
          FROM (SELECT ns.source, gl.lang, ns.n, gl.dd, ut.u
                FROM ns CROSS JOIN gl CROSS JOIN ut) g
          LEFT JOIN sl ON sl.source = g.source AND sl.lang = g.lang),
        kl AS (
          SELECT source, max(n) AS n_docs,
                 CAST(sum(CASE WHEN c0 > 0 THEN c0 * $lnP ELSE 0 END) AS BIGINT) AS sp,
                 CAST(sum(dd * $lnQ) AS BIGINT) AS sq,
                 max(u) AS u0
          FROM grid GROUP BY 1),
        halves AS (
          SELECT source, n_docs,
                 ${halfUpDuck("sp", "n_docs")} AS kl_pm_micro,
                 ${halfUpDuck("sq", "u0")} AS kl_qm_micro
          FROM kl)
        SELECT source, n_docs, kl_pm_micro, kl_qm_micro,
               ${halfUpDuck("(kl_pm_micro + kl_qm_micro)", "2")} AS jsd_micro
        FROM halves ORDER BY source"""
      },
    ),

    // ---- seasonal decomposition of the daily event-value series:
    // daily micro-int totals → centered 7-day moving-average trend
    // (full windows only) → day-of-week seasonal means of the
    // detrended series → residuals; the declared result is the top-10
    // |residual| anomaly days. Every stage is exact integer (half-up
    // division), so the decomposition is bit-stable cross-engine.
    // Scale shape: ONE data-sized keyed agg (per day); the trend
    // window and DOW means run over the DAY DICTIONARY (bounded by
    // the calendar, not the row count — the q198 discipline).
    QueryDef(
      "q260_seasonal_decompose",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"),
            expr("CAST(round(value * 1000000) AS BIGINT)").as("v6"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum("v6").as("val6"))
        val w = Window.orderBy("day").rowsBetween(-3, 3)
        val trended = daily
          .withColumn("wsum", sum("val6").over(w))
          .withColumn("wcnt", count(lit(1)).over(w))
          .filter(col("wcnt") === 7)
          .withColumn("trend6", expr(halfUpSpark("wsum", "7")))
          .withColumn("det6", col("val6") - col("trend6"))
          .withColumn("dow",
            pmod(datediff(col("day"), lit("1970-01-01")), lit(7)))
          // day-dictionary-sized (one row per calendar day): checkpoint
          // so the seasonal agg and the final join don't re-scan events
          .localCheckpoint(true)
        val seas = trended.groupBy("dow")
          .agg(sum("det6").as("sdet"), count(lit(1)).as("ndow"))
          .withColumn("seas6", expr(halfUpSpark("sdet", "ndow")))
          .select("dow", "seas6")
        trended.join(broadcast(seas), Seq("dow"))
          .withColumn("resid6", col("det6") - col("seas6"))
          .select("day", "n_events", "val6", "trend6", "seas6", "resid6")
          .orderBy(abs(col("resid6")).desc, col("day").asc)
          .limit(10)
      },
      Some(s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS val6
          FROM events GROUP BY 1),
        tr AS (
          SELECT day, n_events, val6,
                 CAST(sum(val6) OVER w AS BIGINT) AS wsum,
                 count(*) OVER w AS wcnt
          FROM daily
          WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        trended AS (
          SELECT day, n_events, val6,
                 ${halfUpDuck("wsum", "7")} AS trend6,
                 val6 - ${halfUpDuck("wsum", "7")} AS det6,
                 (day - DATE '1970-01-01') % 7 AS dow
          FROM tr WHERE wcnt = 7),
        seas AS (
          SELECT dow, ${halfUpDuck("sdet", "ndow")} AS seas6
          FROM (SELECT dow, CAST(sum(det6) AS BIGINT) AS sdet,
                       count(*) AS ndow
                FROM trended GROUP BY 1)),
        res AS (
          SELECT t.day, t.n_events, t.val6, t.trend6, s.seas6,
                 t.det6 - s.seas6 AS resid6
          FROM trended t JOIN seas s USING (dow))
        SELECT day, n_events, val6, trend6, seas6, resid6
        FROM res ORDER BY abs(resid6) DESC, day LIMIT 10"""),
    ),

    // ---- degree assortativity of the co-purchase graph: Pearson
    // correlation of (deg u, deg v) over the symmetric edge list —
    // negative r = hub-periphery structure (hubs link to leaves),
    // the one-number summary that predicts whether degree caps
    // (q223's) will bite. Scale shape: the edge build is the q143
    // co-purchase join; degrees are node-sized and BROADCAST onto
    // the edge stream; the correlation is ONE exact-moment aggregate
    // (the q60 discipline) — no window, no second shuffle.
    QueryDef(
      "q261_assortativity",
      (s, d) => {
        val e = graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))
        val und = graft.operators.Graphs.doubled(e)
          .localCheckpoint(true) // deg + the moment pass both read it
        val deg = und.groupBy(col("u").as("nd")).agg(count(lit(1)).as("dg"))
        und
          .join(broadcast(deg.select(col("nd").as("u"), col("dg").as("du"))), Seq("u"))
          .join(broadcast(deg.select(col("nd").as("v"), col("dg").as("dv"))), Seq("v"))
          .agg(
            count(lit(1)).as("m_edges"),
            Num.dsum(col("du").cast("double")).as("sx"),
            Num.dsum(col("dv").cast("double")).as("sy"),
            Num.dsum(expr("cast(du as double) * cast(du as double)")).as("sxx"),
            Num.dsum(expr("cast(dv as double) * cast(dv as double)")).as("syy"),
            Num.dsum(expr("cast(du as double) * cast(dv as double)")).as("sxy"))
          .select(
            col("m_edges"),
            round(expr(
              """(cast(m_edges as double) * sxy - sx * sy) /
                 nullif(sqrt((cast(m_edges as double) * sxx - sx * sx) *
                             (cast(m_edges as double) * syy - sy * sy)), 0.0)"""),
              6).as("r_assort"))
      },
      Some(s"""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        und AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        deg AS (SELECT u AS nd, count(*) AS dg FROM und GROUP BY 1),
        j AS (
          SELECT du.dg AS du, dv.dg AS dv
          FROM und JOIN deg du ON du.nd = und.u
                   JOIN deg dv ON dv.nd = und.v),
        m AS (
          SELECT count(*) AS m_edges,
                 ${Num.dsumSql("CAST(du AS DOUBLE)")} AS sx,
                 ${Num.dsumSql("CAST(dv AS DOUBLE)")} AS sy,
                 ${Num.dsumSql("CAST(du AS DOUBLE) * CAST(du AS DOUBLE)")} AS sxx,
                 ${Num.dsumSql("CAST(dv AS DOUBLE) * CAST(dv AS DOUBLE)")} AS syy,
                 ${Num.dsumSql("CAST(du AS DOUBLE) * CAST(dv AS DOUBLE)")} AS sxy
          FROM j)
        SELECT m_edges,
               round((CAST(m_edges AS DOUBLE) * sxy - sx * sy) /
                     NULLIF(sqrt((CAST(m_edges AS DOUBLE) * sxx - sx * sx) *
                                 (CAST(m_edges AS DOUBLE) * syy - sy * sy)), 0.0), 6)
                 AS r_assort
        FROM m"""),
    ),
  )
}
