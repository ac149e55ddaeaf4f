package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Tenth wave: classical statistics re-expressed as exact distributed
  * aggregates — the "is my 100 TB table drifting / leaking / skewed"
  * toolbox a training-data pipeline runs beside dedup and quality
  * filters.
  *
  *  - q166/q167/q168 operate on the AGGREGATED daily revenue series:
  *    one groupBy reduces 100 TB of fact rows to a calendar-bounded
  *    series (~3.65k rows/decade), after which trend/robust-slope/
  *    autocorrelation are effectively free. The scale contract is that
  *    only the first aggregation touches big data.
  *  - q169 is depth-2 market-basket mining (support/confidence/lift)
  *    at brand granularity — the basket alphabet is bounded (25
  *    brands → ≤300 rules), so supports are large and the pair join is
  *    an equi-join on the order key, never an item-pair explosion.
  *  - q170 is the k-anonymity audit (min class size over
  *    quasi-identifiers) — one groupBy + one tiny re-aggregate.
  *  - q171 is Kaplan–Meier survival in log space (ln rounded once at
  *    source to micro-nats, exact BIGINT cumsum after), the censoring-
  *    aware retention curve.
  *  - q172 is VaR/CVaR (expected shortfall) via exact order-statistic
  *    selection + one filtered aggregate — no rank materialization.
  *  - q173 is the Mann–Whitney U / AUC two-sample test from per-value
  *    counts (doubled midranks stay integral), the nonparametric
  *    drift check between two event populations.
  *
  * All ratios leave the engine as half-up integer ppm/micro units or
  * as doubles derived from EXACTLY-equal integer numerators and
  * denominators (cast to DOUBLE only for the final division, rounded
  * to 6 dp) — bit-identical across engines and shuffle orders.
  */
object Training10 {
  /** Daily gross revenue in exact cents, keyed by epoch-day x.
    * The single big-data pass shared by q166/q167/q168.
    */
  private def dailyRevenue(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("x"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("x")
      .agg(sum("cents").as("y"))

  private val dailyCte =
    """daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS x,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
      FROM lineitem GROUP BY 1)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- closed-form OLS trend of the daily revenue series: slope and
    // intercept from the five classical sufficient statistics (n, Σx,
    // Σy, Σx², Σxy), each an EXACT integer aggregate (DECIMAL(38,0)
    // where products exceed 64 bits — n·Σxy peaks ~6e19 at sf0.1's
    // cents scale). The one float division happens at the very end on
    // exactly-equal integers, so round-6 doubles match bit-for-bit.
    // Scale: sufficient statistics are a map-side-combined aggregate —
    // this is THE way to fit a line on 100 TB (never collect points).
    QueryDef(
      "q166_ols_trend",
      (s, d) =>
        dailyRevenue(s, d)
          .agg(
            count(lit(1)).as("n"),
            sum("x").as("sx"),
            expr("sum(CAST(y AS DECIMAL(38,0)))").as("sy"),
            sum(expr("x * x")).as("sxx"),
            expr("sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))").as("sxy"))
          .select(
            col("n").as("n_days"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6)""")
              .as("slope_cents_per_day"),
            expr("""round(
                (CAST(sy AS DOUBLE)
                 - CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                   / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE)
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE), 6)""")
              .as("intercept_cents")),
      Some(s"""
        WITH $dailyCte,
        a AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
          FROM daily)
        SELECT n AS n_days,
               round(
                 CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                 / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS slope_cents_per_day,
               round(
                 (CAST(sy AS DOUBLE)
                  - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept_cents
        FROM a""")),

    // ---- Theil–Sen robust slope: the (lower) median of all pairwise
    // slopes of the daily series, each slope an exact sign-split
    // half-up micro-cents/day integer. The O(d²) pair set is over the
    // AGGREGATED series (d ≈ 2.5k days → ~3.1M pairs), which is
    // calendar-bounded — at 100 TB d grows with time, not data volume,
    // so the pair join stays a small broadcast-NLJ by design (Theil–Sen
    // is inherently pairwise; windowed repeated-median is the fallback
    // if the series ever gets truly long). kth-smallest selection rides
    // sort+limit, never a global rank materialization.
    QueryDef(
      "q167_theilsen_slope",
      (s, d) => {
        val daily = dailyRevenue(s, d).localCheckpoint() // tiny; feeds 3 consumers
        val nDays = daily.count()
        val pairs = daily.as("a").join(daily.as("b"), col("a.x") < col("b.x"))
          .select(expr("""CASE WHEN b.y - a.y >= 0
              THEN (2 * 1000000 * (b.y - a.y) + (b.x - a.x)) div (2 * (b.x - a.x))
              ELSE -((2 * 1000000 * (a.y - b.y) + (b.x - a.x)) div (2 * (b.x - a.x))) END""")
            .as("slope_micro"))
          .localCheckpoint() // pair set consumed twice (count + selection)
        val nPairs = pairs.count()
        val k = ((nPairs + 1) / 2).toInt
        val med = pairs.orderBy(col("slope_micro").asc).limit(k)
          .agg(max("slope_micro")).collect().head.getLong(0)
        import s.implicits._
        Seq((nDays, nPairs, med)).toDF("n_days", "n_pairs", "ts_slope_micro")
      },
      Some(s"""
        WITH $dailyCte,
        p AS (
          SELECT CASE WHEN b.y - a.y >= 0
              THEN (2 * 1000000 * (b.y - a.y) + (b.x - a.x)) // (2 * (b.x - a.x))
              ELSE -((2 * 1000000 * (a.y - b.y) + (b.x - a.x)) // (2 * (b.x - a.x))) END
            AS slope_micro
          FROM daily a JOIN daily b ON a.x < b.x),
        c AS (SELECT count(*) AS n_pairs FROM p),
        m AS (
          SELECT slope_micro AS ts_slope_micro FROM p ORDER BY slope_micro
          LIMIT 1 OFFSET (SELECT (n_pairs + 1) // 2 - 1 FROM c))
        SELECT (SELECT count(*) FROM daily) AS n_days,
               (SELECT n_pairs FROM c) AS n_pairs,
               (SELECT ts_slope_micro FROM m) AS ts_slope_micro""")),

    // ---- lag-1 autocorrelation of the daily series. Mean-centering is
    // done WITHOUT leaving integers: z_t = n·y_t − S (every term scaled
    // by n, which cancels in the ratio), so numerator Σ z_t·z_{t+1} and
    // denominator Σ z_t² are exact DECIMAL(38,0)/HUGEINT sums (z ≈
    // 2e12 → z² ≈ 5e24 at sf0.1). The single float division at the end
    // divides exactly-equal integers. The lead() window is over the
    // aggregated series (calendar-bounded single partition — the raw
    // data never sees a global window).
    QueryDef(
      "q168_autocorr_lag1",
      (s, d) => {
        val daily = dailyRevenue(s, d)
        val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("s"))
        val z = daily.crossJoin(broadcast(tot))
          .select(col("x"), expr("n * y - s").as("z"), col("n"), col("s"))
        val zz = z.withColumn("zn", lead("z", 1).over(Window.orderBy("x")))
        zz.agg(
          max("n").as("n_days"),
          expr("(2 * max(s) + max(n)) div (2 * max(n))").as("mean_cents"),
          expr("""round(
              CAST(sum(CAST(z AS DECIMAL(19,0)) * CAST(zn AS DECIMAL(19,0))) AS DOUBLE)
              / CAST(nullif(sum(CAST(z AS DECIMAL(19,0)) * CAST(z AS DECIMAL(19,0))), 0) AS DOUBLE),
              6)""").as("r1"))
      },
      Some(s"""
        WITH $dailyCte,
        tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily),
        z AS (SELECT x, n * y - s AS z, n, s FROM daily, tot),
        zz AS (SELECT z, lead(z) OVER (ORDER BY x) AS zn, n, s FROM z)
        SELECT max(n) AS n_days,
               (2 * max(s) + max(n)) // (2 * max(n)) AS mean_cents,
               round(
                 CAST(sum(CAST(z AS HUGEINT) * CAST(zn AS HUGEINT)) AS DOUBLE)
                 / CAST(nullif(sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)), 0) AS DOUBLE),
                 6) AS r1
        FROM zz""")),

    // ---- depth-2 market-basket association rules at brand granularity:
    // support / confidence / lift for every ordered brand pair that
    // co-occurs in an order. The alphabet is bounded (25 brands → ≤300
    // pairs), so this is the a-priori frequent-pair pass with supports
    // as plain counts: baskets come from one broadcast dim join +
    // distinct, the pair generation is an equi-join on the order key
    // (shuffle on o, never item²), and the rule metrics are exact
    // half-up ppm. At 100 TB the only big exchange is the distinct on
    // (order, brand) — everything after is dictionary-sized.
    QueryDef(
      "q169_basket_rules",
      (s, d) => {
        val ob = Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
          .distinct()
          .localCheckpoint() // consumed 4× (N, supports, both join sides)
        val n = ob.agg(countDistinct("o").as("n_orders"))
        val supp = ob.groupBy("b").agg(count(lit(1)).as("s"))
        val pairs = ob.as("l").join(ob.as("r"),
            col("l.o") === col("r.o") && col("l.b") < col("r.b"))
          .groupBy(col("l.b").as("brand_a"), col("r.b").as("brand_b"))
          .agg(count(lit(1)).as("supp_ab"))
        pairs
          .join(broadcast(supp.withColumnRenamed("b", "brand_a")
            .withColumnRenamed("s", "supp_a")), Seq("brand_a"))
          .join(broadcast(supp.withColumnRenamed("b", "brand_b")
            .withColumnRenamed("s", "supp_b")), Seq("brand_b"))
          .crossJoin(broadcast(n))
          .select(
            col("brand_a"), col("brand_b"),
            col("supp_ab"), col("supp_a"), col("supp_b"), col("n_orders"),
            expr("(2 * 1000000 * supp_ab + supp_a) div (2 * supp_a)").as("conf_ab_ppm"),
            expr("""(2 * 1000000 * supp_ab * n_orders + supp_a * supp_b)
                    div (2 * supp_a * supp_b)""").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("brand_a").asc, col("brand_b").asc)
      },
      Some("""
        WITH ob AS (
          SELECT DISTINCT l_orderkey AS o, p_brand AS b
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
        supp AS (SELECT b, count(*) AS s FROM ob GROUP BY 1),
        pairs AS (
          SELECT l.b AS brand_a, r.b AS brand_b, count(*) AS supp_ab
          FROM ob l JOIN ob r ON l.o = r.o AND l.b < r.b
          GROUP BY 1, 2)
        SELECT brand_a, brand_b, supp_ab, sa.s AS supp_a, sb.s AS supp_b, n_orders,
               (2 * 1000000 * supp_ab + sa.s) // (2 * sa.s) AS conf_ab_ppm,
               (2 * 1000000 * supp_ab * n_orders + sa.s * sb.s)
                 // (2 * sa.s * sb.s) AS lift_ppm
        FROM pairs
        JOIN supp sa ON sa.b = brand_a
        JOIN supp sb ON sb.b = brand_b
        CROSS JOIN n
        ORDER BY lift_ppm DESC, brand_a, brand_b""")),

    // ---- k-anonymity audit over quasi-identifiers (nation, market
    // segment, account-balance bucket of 1000 currency units): the
    // re-identification risk screen run before a table is released for
    // training. k_anonymity = the smallest equivalence-class size;
    // classes/rows below k=5 quantify the suppression a release would
    // need, as half-up ppm. One groupBy over the table + one re-agg of
    // the class histogram — both map-side combinable. The balance
    // bucket floors in exact cents (Spark `div` truncates toward zero,
    // DuckDB `//` floors — the negative-remainder CASE aligns them).
    QueryDef(
      "q170_k_anonymity",
      (s, d) =>
        Tables(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            expr("""(CAST(round(c_acctbal * 100, 0) AS BIGINT) div 100000) +
                    CASE WHEN CAST(round(c_acctbal * 100, 0) AS BIGINT) % 100000 < 0
                         THEN -1 ELSE 0 END""").as("bal_bucket"))
          .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
          .agg(count(lit(1)).as("cnt"))
          .agg(
            count(lit(1)).as("n_classes"),
            sum("cnt").as("n_rows"),
            min("cnt").as("k_anonymity"),
            sum(when(col("cnt") < 5, lit(1L)).otherwise(lit(0L))).as("classes_lt5"),
            sum(when(col("cnt") < 5, col("cnt")).otherwise(lit(0L))).as("rows_lt5"))
          .select(
            col("n_classes"), col("n_rows"), col("k_anonymity"),
            col("classes_lt5"), col("rows_lt5"),
            expr("(2 * 1000000 * rows_lt5 + n_rows) div (2 * n_rows)").as("suppress_ppm")),
      Some("""
        WITH qi AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 +
                 CASE WHEN CAST(round(c_acctbal * 100, 0) AS BIGINT) % 100000 < 0
                      THEN -1 ELSE 0 END AS bal_bucket
          FROM customer),
        cls AS (
          SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS cnt
          FROM qi GROUP BY 1, 2, 3),
        a AS (
          SELECT count(*) AS n_classes, CAST(sum(cnt) AS BIGINT) AS n_rows,
                 min(cnt) AS k_anonymity,
                 CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt5,
                 CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) AS rows_lt5
          FROM cls)
        SELECT n_classes, n_rows, k_anonymity, classes_lt5, rows_lt5,
               (2 * 1000000 * rows_lt5 + n_rows) // (2 * n_rows) AS suppress_ppm
        FROM a""")),

    // ---- Kaplan–Meier survival of customer lifetime (first→last order
    // span in days), censoring-aware: a customer whose last order is
    // within 90 days of the data horizon is censored (still alive), not
    // an event. Survival is accumulated in LOG space — each factor
    // ln((n_i−d_i)/n_i) is rounded once at source to micro-nats, after
    // which the running product is an exact BIGINT cumsum. If the risk
    // set ever empties at an event time (S hits exactly 0), the curve
    // reports NULL from that point on (ln 0 is −∞) — both engines
    // agree via an explicit halt flag rather than relying on NULL-skip
    // quirks. The per-t windows run over distinct lifetimes
    // (calendar-bounded), never the raw table.
    QueryDef(
      "q171_km_survival",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val horizon = o.agg(max(col("o_orderdate").cast("date")).as("h"))
        val cust = o.groupBy("o_custkey")
          .agg(
            min(col("o_orderdate").cast("date")).as("first_d"),
            max(col("o_orderdate").cast("date")).as("last_d"))
          .crossJoin(broadcast(horizon))
          .select(
            expr("CAST(datediff(last_d, first_d) AS BIGINT)").as("t"),
            expr("""CASE WHEN datediff(h, last_d) >= 90
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""").as("ev"))
        val byT = cust.groupBy("t")
          .agg(sum("ev").as("d_events"), count(lit(1)).as("n_at"))
        val tot = cust.agg(count(lit(1)).as("n_total"))
        val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        byT.crossJoin(broadcast(tot))
          .withColumn("n_risk",
            col("n_total") - coalesce(sum("n_at").over(wPrev), lit(0L)))
          .filter(col("d_events") > 0)
          .withColumn("ln_term_micro",
            expr("""CASE WHEN n_risk > d_events
                    THEN CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
                                       / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
                    ELSE NULL END"""))
          .withColumn("halted",
            max(when(col("ln_term_micro").isNull, lit(1)).otherwise(lit(0))).over(wCum))
          .withColumn("log_s_micro",
            when(col("halted") === 1, lit(null).cast("long"))
              .otherwise(sum("ln_term_micro").over(wCum)))
          .select(col("t").as("t_days"), col("n_risk"), col("d_events"), col("log_s_micro"))
      },
      Some("""
        WITH cust AS (
          SELECT date_diff('day', min(CAST(o_orderdate AS DATE)), max(CAST(o_orderdate AS DATE))) AS t,
                 CASE WHEN date_diff('day', max(CAST(o_orderdate AS DATE)),
                        (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) >= 90
                      THEN 1 ELSE 0 END AS ev
          FROM orders GROUP BY o_custkey),
        byt AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d_events, count(*) AS n_at
          FROM cust GROUP BY 1),
        r AS (
          SELECT t, d_events,
                 (SELECT count(*) FROM cust)
                   - CAST(coalesce(sum(n_at) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS n_risk
          FROM byt),
        e AS (
          SELECT t, n_risk, d_events,
                 CASE WHEN n_risk > d_events
                      THEN CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
                                         / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
                      ELSE NULL END AS ln_term_micro
          FROM r WHERE d_events > 0)
        SELECT t AS t_days, n_risk, d_events,
               CASE WHEN max(CASE WHEN ln_term_micro IS NULL THEN 1 ELSE 0 END)
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                    THEN NULL
                    ELSE CAST(sum(ln_term_micro)
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               END AS log_s_micro
        FROM e""")),

    // ---- VaR / CVaR (expected shortfall) of order values at the 95th
    // percentile: VaR is the exact k = ⌈0.95·n⌉-th smallest in cents
    // (order-statistic selection via sort+limit — a bounded-heap
    // TakeOrdered, not a global rank), CVaR the exact mean of the
    // upper-tail ranks. Ties at the threshold are handled by the
    // rank-based definition: the tail is the g values strictly above
    // VaR plus (m−g) copies of VaR itself, so one filtered aggregate
    // pass after broadcasting the scalar threshold computes it with no
    // tail materialization. All arithmetic exact cents, half-up mean.
    QueryDef(
      "q172_cvar",
      (s, d) => {
        val cents = Tables(s, d, "orders")
          .select(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("c"))
        val n = cents.count()
        val k = (19 * n + 19) / 20 // ceil(0.95 n), exact integer
        val m = n - k + 1
        val varC = cents.orderBy(col("c").asc).limit(k.toInt)
          .agg(max("c")).collect().head.getLong(0)
        val tail = cents.agg(
          sum(when(col("c") > varC, col("c")).otherwise(lit(0L))).as("s_gt"),
          sum(when(col("c") > varC, lit(1L)).otherwise(lit(0L))).as("g"))
          .collect().head
        val sGt = tail.getAs[Long]("s_gt")
        val g = tail.getAs[Long]("g")
        val cvar = (2 * (sGt + (m - g) * varC) + m) / (2 * m) // all terms ≥ 0
        import s.implicits._
        Seq((n, k, varC, m, cvar))
          .toDF("n_orders", "k_rank", "var_cents", "tail_n", "cvar_cents")
      },
      Some("""
        WITH c AS (
          SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders),
        p AS (SELECT count(*) AS n, (19 * count(*) + 19) // 20 AS k FROM c),
        v AS (
          SELECT c AS var_cents FROM c ORDER BY c
          LIMIT 1 OFFSET (SELECT k - 1 FROM p)),
        a AS (
          SELECT CAST(sum(CASE WHEN c.c > v.var_cents THEN c.c ELSE 0 END) AS BIGINT) AS s_gt,
                 CAST(sum(CASE WHEN c.c > v.var_cents THEN 1 ELSE 0 END) AS BIGINT) AS g
          FROM c, v)
        SELECT (SELECT n FROM p) AS n_orders,
               (SELECT k FROM p) AS k_rank,
               (SELECT var_cents FROM v) AS var_cents,
               (SELECT n - k + 1 FROM p) AS tail_n,
               (2 * (s_gt + ((SELECT n - k + 1 FROM p) - g) * (SELECT var_cents FROM v))
                  + (SELECT n - k + 1 FROM p))
                 // (2 * (SELECT n - k + 1 FROM p)) AS cvar_cents
        FROM a""")),

    // ---- Mann–Whitney U / AUC between the click and purchase value
    // distributions — the nonparametric "did this population shift"
    // test (AUC = P(click value > purchase value) + ½P(tie)). Computed
    // from PER-VALUE COUNTS, not per-row ranks: for each distinct cents
    // value, U gains na·(2·cumb_below + nb), which doubles the midrank
    // so ties stay integral. The cumulative window runs over distinct
    // values (bounded dictionary), the raw table only feeds one
    // groupBy — no global per-row rank at any scale. AUC leaves as
    // half-up ppm of the exact doubled U.
    QueryDef(
      "q173_mwu_auc",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(
            expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"),
            when(col("event_type") === "click", lit(1L)).otherwise(lit(0L)).as("isa"))
        val byV = ev.groupBy("c")
          .agg(sum("isa").as("na"), sum(expr("1 - isa")).as("nb"))
        // exclusive prefix over the distinct-value dictionary via the
        // two-phase prefix sum (value space grows with data — q436
        // class; no unpartitioned window)
        graft.operators.ScalableRank
          .withPrefixSum(byV, Seq(col("c")), col("nb"), "cuminc")
          .withColumn("cumb", col("cuminc") - col("nb"))
          .agg(
            sum("na").as("n_click"),
            sum("nb").as("n_purchase"),
            sum(expr("na * (2 * cumb + nb)")).as("u_doubled"))
          .select(
            col("n_click"), col("n_purchase"), col("u_doubled"),
            expr("""(2 * 1000000 * u_doubled + 2 * n_click * n_purchase)
                    div (4 * n_click * n_purchase)""").as("auc_ppm"))
      },
      Some("""
        WITH ev AS (
          SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa
          FROM events WHERE event_type IN ('click', 'purchase')),
        byv AS (
          SELECT c, CAST(sum(isa) AS BIGINT) AS na,
                 CAST(sum(1 - isa) AS BIGINT) AS nb
          FROM ev GROUP BY 1),
        cum AS (
          SELECT na, nb,
                 CAST(coalesce(sum(nb) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
          FROM byv),
        a AS (
          SELECT CAST(sum(na) AS BIGINT) AS n_click,
                 CAST(sum(nb) AS BIGINT) AS n_purchase,
                 CAST(sum(na * (2 * cumb + nb)) AS BIGINT) AS u_doubled
          FROM cum)
        SELECT n_click, n_purchase, u_doubled,
               (2 * 1000000 * u_doubled + 2 * n_click * n_purchase)
                 // (4 * n_click * n_purchase) AS auc_ppm
        FROM a""")),
  )
}
