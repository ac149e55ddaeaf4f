package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-seventh wave — time-series motifs, inequality curves, and
  * epidemiological effect measures:
  *
  *  - q453: matrix-profile discord/motif discovery (Yeh et al.,
  *    ICDM'16 shape, exact integer SSD instead of z-normalized
  *    Euclidean) — every 7-day window of the daily-revenue series
  *    scored by its distance to its nearest non-overlapping
  *    neighbor; the 5 windows with the LARGEST nearest-neighbor
  *    distance are the discords (anomalous weeks), the globally
  *    closest pair is the motif (the most repeated weekly shape).
  *    All pair work runs on the ~2.4k-row day dictionary.
  *  - q454: Lorenz curve + trapezoid Gini of customer spend — the
  *    cumulative spend share at each population ventile (exact
  *    integer ranks; dollar units so ppm projections never
  *    overflow), and the Gini coefficient by trapezoid integration
  *    over the 20 ventile points. The inequality summary every
  *    revenue-concentration dashboard wants.
  *  - q455: 2×2 effect measures per nation — exposure (urgent/high
  *    priority) × outcome (fulfilled status) cell counts with the
  *    Haldane–Anscombe continuity correction applied as doubled
  *    counts + 1 (stays exactly integer), odds ratio and relative
  *    risk in ppm. The epidemiology companion to q437's
  *    stratified-sign analysis.
  */
object Training97 {
  private def mpSql(spark: Boolean, ordersRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val leads = (0 to 6).map(k =>
      s"lead(v, $k) OVER (ORDER BY day) AS v$k").mkString(",\n               ")
    val ssd = (0 to 6).map(k => s"(a.v$k - b.v$k) * (a.v$k - b.v$k)").mkString(" + ")
    s"""
      WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) $idiv 100000
                 AS BIGINT) AS v
        FROM $ordersRel GROUP BY 1),
      idx AS (
        SELECT row_number() OVER (ORDER BY day) AS i, v FROM daily),
      wv AS (
        SELECT day AS i, v0, v1, v2, v3, v4, v5, v6 FROM (
          SELECT day, ${(0 to 6).map(k => s"v$k").mkString(", ")},
                 max(day) OVER () AS n
          FROM (SELECT day, $leads
                FROM (SELECT i AS day, v FROM idx) x1) l) w
        WHERE day <= n - 6),
      prof AS (
        SELECT a.i, b.i AS j, $ssd AS ssd,
               row_number() OVER (PARTITION BY a.i ORDER BY $ssd, b.i) AS rn
        FROM wv a JOIN wv b ON abs(a.i - b.i) >= 7),
      nn AS (SELECT i, j, ssd FROM prof WHERE rn = 1),
      discords AS (
        SELECT 'discord' AS kind, i, j, ssd,
               row_number() OVER (ORDER BY ssd DESC, i) AS rk
        FROM nn),
      motif AS (
        SELECT 'motif' AS kind, i, j, ssd, 1 AS rk FROM (
          SELECT i, j, ssd,
                 row_number() OVER (ORDER BY ssd, i, j) AS mr
          FROM nn WHERE i < j) m WHERE mr = 1)
      SELECT kind, CAST(rk AS INT) AS rank, CAST(i AS BIGINT) AS i,
             CAST(j AS BIGINT) AS j, CAST(ssd AS BIGINT) AS ssd
      FROM (SELECT * FROM discords WHERE rk <= 5
            UNION ALL SELECT * FROM motif) u
      ORDER BY kind, rank"""
  }

  private def lorenzSql(spark: Boolean, ordersRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val vals = (1 to 20).map(k => s"($k)").mkString(", ")
    s"""
      WITH spend AS (
        SELECT o_custkey, CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
                 AS x
        FROM $ordersRel GROUP BY 1),
      ranked AS (
        SELECT x,
               row_number() OVER (ORDER BY x, o_custkey) AS rn,
               sum(x) OVER (ORDER BY x, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM spend),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
        FROM spend),
      vent AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $vals) AS t(k)),
      curve AS (
        SELECT v.k,
               CAST((v.k * 1000000) $idiv 20 AS BIGINT) AS cum_pop_ppm,
               CAST((r.cum * 1000000) $idiv t.sx AS BIGINT) AS cum_spend_ppm
        FROM vent v
        CROSS JOIN tot t
        JOIN ranked r ON r.rn = (t.n * v.k) $idiv 20),
      gini AS (
        SELECT CAST(1000000 - (sum(cum_spend_ppm + coalesce(prev, 0)) $idiv 40)
               AS BIGINT) AS g
        FROM (SELECT cum_spend_ppm,
                     lag(cum_spend_ppm) OVER (ORDER BY k) AS prev
              FROM curve) c)
      SELECT c.k, c.cum_pop_ppm, c.cum_spend_ppm, g.g AS gini_trapezoid_ppm
      FROM curve c CROSS JOIN gini g
      ORDER BY c.k"""
  }

  /** The vent/curve/gini tail of lorenzSql over a pre-ranked relation
    * (x, rn, cum) — the Spark side builds that relation with the
    * two-phase ScalableRank.withPrefixSum (the customer spend table is
    * data-sized; lorenzSql's global rank+running-sum window stays as
    * the DuckDB oracle form only). Arithmetic kept verbatim from
    * lorenzSql so the two sides cannot drift.
    */
  private def lorenzCurveSparkSql(rankedRel: String): String = {
    val vals = (1 to 20).map(k => s"($k)").mkString(", ")
    s"""
      WITH tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
        FROM $rankedRel),
      vent AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $vals) AS t(k)),
      curve AS (
        SELECT v.k,
               CAST((v.k * 1000000) div 20 AS BIGINT) AS cum_pop_ppm,
               CAST((r.cum * 1000000) div t.sx AS BIGINT) AS cum_spend_ppm
        FROM vent v
        CROSS JOIN tot t
        JOIN $rankedRel r ON r.rn = (t.n * v.k) div 20),
      gini AS (
        SELECT CAST(1000000 - (sum(cum_spend_ppm + coalesce(prev, 0)) div 40)
               AS BIGINT) AS g
        FROM (SELECT cum_spend_ppm,
                     lag(cum_spend_ppm) OVER (ORDER BY k) AS prev
              FROM curve) c)
      SELECT c.k, c.cum_pop_ppm, c.cum_spend_ppm, g.g AS gini_trapezoid_ppm
      FROM curve c CROSS JOIN gini g
      ORDER BY c.k"""
  }

  private def orSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      WITH cells AS (
        SELECT c.c_nationkey AS nation,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    AND o.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    AND o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    AND o.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY 1)
      SELECT CAST(nation AS BIGINT) AS nation, a, b, c, d,
             CAST(((2 * a + 1) * (2 * d + 1) * 1000000)
               $idiv ((2 * b + 1) * (2 * c + 1)) AS BIGINT) AS odds_ratio_ppm,
             CAST(((2 * a + 1) * (2 * c + 2 * d + 2) * 1000000)
               $idiv ((2 * c + 1) * (2 * a + 2 * b + 2)) AS BIGINT)
               AS relative_risk_ppm
      FROM cells ORDER BY nation"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q453_matrix_profile_discord",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_mp_orders")
        s.sql(mpSql(spark = true, "graft_mp_orders"))
      },
      Some(mpSql(spark = false, "orders"))),

    QueryDef(
      "q454_lorenz_gini",
      (s, d) => {
        // per-customer spend is data-sized: rank + running sum via the
        // two-phase prefix sum, never a global window over customers
        val spend = Tables(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(expr("CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)")
            .as("x"))
        // NOT checkpointed: the two view references (tot + the 20-row
        // ventile probe) re-run only the window+broadcast projection
        // over withPrefixSum's internally checkpointed sorted base, and
        // the declared plan keeps its __sr_pid window visible for the
        // PlanSpec keying gate
        graft.operators.ScalableRank
          .withPrefixSum(spend, Seq(col("x"), col("o_custkey")), col("x"),
            "cum", rankCol = Some("rn"))
          .createOrReplaceTempView("graft_lg_ranked")
        s.sql(lorenzCurveSparkSql("graft_lg_ranked"))
      },
      Some(lorenzSql(spark = false, "orders"))),

    QueryDef(
      "q455_odds_ratio_suite",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_or_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_or_customer")
        s.sql(orSql(spark = true, "graft_or_orders", "graft_or_customer"))
      },
      Some(orSql(spark = false, "orders", "customer"))),
  )
}
