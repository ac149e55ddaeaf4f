package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-first wave — optimal summaries and robust/stratified stats:
  *
  *  - q435: V-optimal histogram error curve (Jagadish et al.,
  *    VLDB'98) — the daily-revenue series gridded to 64 slots, then
  *    the dynamic program E_k(i) = min_m E_{k-1}(m) + SSE(m+1..i)
  *    computes, for every bucket budget k=1..8, the minimum total
  *    squared error any k-bucket histogram can achieve. All integer
  *    ($1000 units, floored SSE), so the DP is exact in both
  *    dialects: Spark collects the 64-slot grid (bounded at any
  *    corpus size) and runs the DP on the driver — the q432/q414
  *    bounded-synopsis pattern; the oracle runs the same DP as 8
  *    chained MATERIALIZED CTEs.
  *  - q436: winsorized + trimmed robust statistics of order totals —
  *    exact discrete P05/P95 boundaries (the q329 ceil(q·n) cum
  *    construction), winsorized sum (clamped), trimmed sum/count
  *    (dropped), and clamp censuses. The classic outlier-robust
  *    alternative to the raw mean, fully integer.
  *  - q437: Simpson's-paradox detector — for every ordered pair of
  *    customer market segments, the aggregate average-order-value
  *    comparison vs the per-nation stratified comparisons, signs
  *    decided by exact cross-multiplication (sum_a·cnt_b vs
  *    sum_b·cnt_a — no division, no rounding). A pair is flagged
  *    when the aggregate winner loses in the majority of strata —
  *    the amalgamation reversal every experiment dashboard should
  *    test for.
  */
object Training91 {
  /** 64-slot date-gridded revenue in $1000 units, per dialect. */
  private def gridSql(spark: Boolean, ordersRel: String): String = {
    val dd = if (spark) "datediff(o_orderdate, mind)" else "date_diff('day', mind, o_orderdate)"
    val span = if (spark) "datediff(maxd, mind)" else "date_diff('day', mind, maxd)"
    val idiv = if (spark) "div" else "//"
    val grid = if (spark) "SELECT explode(sequence(0, 63)) AS idx"
      else "SELECT t.idx FROM range(64) t(idx)"
    s"""
      WITH bounds AS (
        SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd FROM $ordersRel),
      slots AS (
        SELECT CAST((($dd) * 64) $idiv (($span) + 1) AS INT) AS idx,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) $idiv 100000 AS BIGINT) AS v
        FROM $ordersRel, bounds GROUP BY 1)
      SELECT g.idx, CAST(coalesce(s.v, 0) AS BIGINT) AS v
      FROM ($grid) g LEFT JOIN slots s ON s.idx = g.idx"""
  }

  /** DuckDB oracle DP: prefix sums + 8 chained materialized levels. */
  private def voptDuckSql: String = {
    // sse of slots (m+1..i) from prefix rows m and i (m=0 sentinel)
    def sse(m: String, i: String) =
      s"(($i.s2 - $m.s2) - (($i.s1 - $m.s1) * ($i.s1 - $m.s1)) // ($i.idx - $m.idx))"
    val levels = (2 to 8).map { k =>
      s"""e$k AS MATERIALIZED (
          SELECT i.idx, i.s1, i.s2, min(m.err + ${sse("m", "i")}) AS err
          FROM e${k - 1} m JOIN pre i ON m.idx < i.idx AND m.idx >= ${k - 1}
          GROUP BY i.idx, i.s1, i.s2)"""
    }.mkString(",\n")
    val answers = (1 to 8)
      .map(k => s"SELECT $k AS k, err FROM e$k WHERE idx = 64")
      .mkString(" UNION ALL ")
    s"""
      WITH g AS MATERIALIZED (${gridSql(spark = false, "orders")}),
      pre0 AS (
        SELECT idx + 1 AS idx,
               sum(v) OVER (ORDER BY idx) AS s1,
               sum(v * v) OVER (ORDER BY idx) AS s2
        FROM g),
      pre AS MATERIALIZED (
        SELECT idx, s1, s2 FROM pre0
        UNION ALL SELECT 0 AS idx, 0 AS s1, 0 AS s2),
      e1 AS MATERIALIZED (
        SELECT i.idx, i.s1, i.s2, ${sse("m", "i")} AS err
        FROM pre i JOIN pre m ON m.idx = 0 WHERE i.idx >= 1),
      $levels
      SELECT CAST(k AS INT) AS k, CAST(err AS BIGINT) AS opt_sse
      FROM ($answers) ORDER BY k"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q435_voptimal_histogram",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_vopt_orders")
        val g = new Array[Long](64)
        s.sql(gridSql(spark = true, "graft_vopt_orders")).collect()
          .foreach(r => g(r.getInt(0)) = r.getLong(1))
        val s1 = g.scanLeft(0L)(_ + _) // s1(i) = sum of first i
        val s2 = g.scanLeft(0L)((a, v) => a + v * v)
        def sse(m: Int, i: Int): Long =
          (s2(i) - s2(m)) - math.floorDiv((s1(i) - s1(m)) * (s1(i) - s1(m)), i - m)
        // e(k)(i): best error covering slots 1..i with k buckets
        var prev = Array.tabulate(65)(i => if (i >= 1) sse(0, i) else Long.MaxValue)
        val curve = Array.ofDim[Long](9)
        curve(1) = prev(64)
        for (k <- 2 to 8) {
          val cur = Array.fill(65)(Long.MaxValue)
          for (i <- k to 64; m <- (k - 1) until i) {
            val c = prev(m) + sse(m, i)
            if (c < cur(i)) cur(i) = c
          }
          curve(k) = cur(64); prev = cur
        }
        import s.implicits._
        (1 to 8).map(k => (k, curve(k))).toDF("k", "opt_sse")
      },
      Some(voptDuckSql)),

    QueryDef(
      "q436_winsorized_stats",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // exact discrete P05/P95 via the q270 TWO-PASS bucket-histogram
        // selection (round-10 verdict borderline closed): the old form
        // ran its cumulative window over the DISTINCT-CENTS dictionary,
        // which grows with price cardinality; here the only windows run
        // over (a) the 4096-wide bucket histogram — value-range/4096
        // rows, fixed by the price domain — and (b) ONE bucket's cents
        // dictionary (≤4096 rows by construction). Driver touches only
        // scalars (n, bucket ids, the two quantiles).
        val cents = Tables(s, d, "orders")
          .selectExpr("CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents")
          .localCheckpoint(true) // histogram, two bucket slices, final agg
        val nRows = cents.count()
        require(nRows > 0,
          "q436_winsorized_stats: empty orders input — no quantile ranks to select")
        val bw = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        val hist = cents.select(expr("cents div 4096").as("b"))
          .groupBy("b").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(bw))
          .localCheckpoint(true) // probed once per quantile rank
        // k-th smallest cents overall: locate the bucket holding rank k,
        // then select within that bucket's ≤4096-value dictionary
        def kth(k: Long): Long = {
          val tgt = hist.filter(col("cum") >= k).orderBy("b").limit(1)
            .collect().head
          val bStar = tgt.getLong(0)
          val kIn = k - (tgt.getLong(2) - tgt.getLong(1))
          cents.filter(expr("cents div 4096") === bStar)
            .groupBy("cents").agg(count(lit(1)).as("c"))
            .withColumn("cum", sum("c").over(
              Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)))
            .filter(col("cum") >= kIn).orderBy("cents").limit(1)
            .collect().head.getLong(0)
        }
        val p05 = kth((nRows + 19) / 20)
        val p95 = kth((19 * nRows + 19) / 20)
        cents
          .agg(
            sum(expr(s"least(greatest(cents, ${p05}L), ${p95}L)"))
              .as("winsorized_sum"),
            sum(when(col("cents").between(p05, p95), col("cents")))
              .as("trimmed_sum"),
            sum(when(col("cents").between(p05, p95), 1L).otherwise(0L))
              .as("trimmed_n"),
            sum(when(col("cents") < p05, 1L).otherwise(0L))
              .as("n_clamped_low"),
            sum(when(col("cents") > p95, 1L).otherwise(0L))
              .as("n_clamped_high"))
          .select(lit(nRows).as("n"), lit(p05).as("p05_cents"),
            lit(p95).as("p95_cents"), col("winsorized_sum"),
            col("trimmed_sum"), col("trimmed_n"),
            col("n_clamped_low"), col("n_clamped_high"))
      },
      Some("""
        WITH c AS (
          SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        b AS (
          SELECT count(*) AS n,
                 CAST(quantile_disc(cents, 0.05) AS BIGINT) AS p05_cents,
                 CAST(quantile_disc(cents, 0.95) AS BIGINT) AS p95_cents
          FROM c)
        SELECT CAST(b.n AS BIGINT) AS n, b.p05_cents, b.p95_cents,
               CAST(sum(least(greatest(c.cents, b.p05_cents), b.p95_cents)) AS BIGINT)
                 AS winsorized_sum,
               CAST(sum(CASE WHEN c.cents BETWEEN b.p05_cents AND b.p95_cents
                 THEN c.cents END) AS BIGINT) AS trimmed_sum,
               CAST(SUM(CASE WHEN c.cents BETWEEN b.p05_cents AND b.p95_cents
                 THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_n,
               CAST(SUM(CASE WHEN c.cents < b.p05_cents THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clamped_low,
               CAST(SUM(CASE WHEN c.cents > b.p95_cents THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clamped_high
        FROM c, b GROUP BY b.n, b.p05_cents, b.p95_cents""")),

    QueryDef(
      "q437_simpsons_paradox",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_sp_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_sp_customer")
        s.sql(simpsonSql("graft_sp_orders", "graft_sp_customer"))
      },
      Some(simpsonSql("orders", "customer"))),
  )

  /** q437's SQL — identical text runs in both dialects: integer
    * dollars, sign comparisons by cross-multiplication.
    */
  private def simpsonSql(ordersRel: String, custRel: String): String = s"""
    WITH strata AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS seg,
             CAST(sum(CAST(round(o.o_totalprice, 0) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS cnt
      FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    strat_pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(CASE WHEN a.s * b.cnt > b.s * a.cnt THEN 1
                       WHEN a.s * b.cnt < b.s * a.cnt THEN -1
                       ELSE 0 END AS INT) AS strat_sign
      FROM strata a JOIN strata b
        ON a.nation = b.nation AND a.seg < b.seg),
    seg_tot AS (
      SELECT seg, CAST(sum(s) AS BIGINT) AS s, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM strata GROUP BY seg),
    agg_pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(CASE WHEN a.s * b.cnt > b.s * a.cnt THEN 1
                       WHEN a.s * b.cnt < b.s * a.cnt THEN -1
                       ELSE 0 END AS INT) AS agg_sign
      FROM seg_tot a JOIN seg_tot b ON a.seg < b.seg),
    counted AS (
      SELECT seg_a, seg_b, CAST(count(*) AS BIGINT) AS n_strata,
             CAST(SUM(CASE WHEN strat_sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN strat_sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM strat_pairs GROUP BY seg_a, seg_b)
    SELECT c.seg_a, c.seg_b, g.agg_sign, c.n_strata,
           CAST(CASE g.agg_sign WHEN 1 THEN c.n_pos WHEN -1 THEN c.n_neg
                ELSE c.n_strata - c.n_pos - c.n_neg END AS BIGINT) AS n_agree,
           CAST(CASE g.agg_sign WHEN 1 THEN c.n_neg WHEN -1 THEN c.n_pos
                ELSE c.n_pos + c.n_neg END AS BIGINT) AS n_flip,
           CAST(CASE WHEN g.agg_sign <> 0 AND
                  (CASE g.agg_sign WHEN 1 THEN c.n_neg ELSE c.n_pos END) >
                  (CASE g.agg_sign WHEN 1 THEN c.n_pos ELSE c.n_neg END)
                THEN 1 ELSE 0 END AS INT) AS paradox
    FROM counted c JOIN agg_pairs g
      ON g.seg_a = c.seg_a AND g.seg_b = c.seg_b
    ORDER BY 1, 2"""
}
