package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Thirteenth wave: resampling-based uncertainty and monitoring ops —
  * the Poisson bootstrap (THE one-pass distributed bootstrap: no
  * resampling pass per replicate, just B deterministic multipliers per
  * row), an exact-integer EWMA spike monitor, delete-one-group
  * jackknife influence, and the log2 length histogram sequence-length
  * planning reads off.
  *
  * Determinism discipline: the bootstrap's Poisson(1) multipliers come
  * from the shared md5-derived 60-bit hash against fixed CDF
  * thresholds — a pure function of (replicate, row id) on both
  * engines; EWMA weights are powers of two; every ratio is half-up
  * integer ppm or an exact integer difference.
  */
object Training13 {
  /** Poisson(1) CDF thresholds scaled to 1e6 (e^-1-derived, rounded):
    * hash60 % 1e6 < 367879 → 0 copies, < 735759 → 1, < 919699 → 2,
    * < 981012 → 3, else 4. Mean multiplier ≈ 1.0004 — the Poisson
    * bootstrap's bias at this truncation, identical on both engines.
    */
  private val bootCase =
    """CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
      |     WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
      |     ELSE 4 END""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Poisson-bootstrap confidence interval for mean order value.
    // The classical bootstrap resamples n rows B times — impossible at
    // 100 TB. The Poisson bootstrap instead gives every row a
    // deterministic Poisson(1) multiplier PER REPLICATE: one scan,
    // B=20 weighted partial sums (map-side combined), and the whole
    // uncertainty machinery collapses to a 20-row frame. CI bounds are
    // the 2nd/19th order statistics of the replicate means (an ~90%
    // interval); every mean is exact half-up cents.
    QueryDef(
      "q187_bootstrap_ci",
      (s, d) => {
        val reps = Tables(s, d, "orders")
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("x"))
          .select(col("o_orderkey"), col("x"), explode(expr("sequence(0, 19)")).as("b"))
          .select(col("b"), col("x"),
            expr(s"pmod(${hash60Spark("concat('bs', cast(b as string), ':', cast(o_orderkey as string))")}, 1000000)")
              .as("u"))
          .select(col("b"), col("x"), expr(bootCase).as("m"))
          .groupBy("b")
          .agg(sum(expr("m * x")).as("sx"), sum("m").as("sm"))
          .select(col("b"),
            expr("(2 * sx + sm) div (2 * nullif(sm, 0))").as("mean_b"))
        val ranked = reps.withColumn("rk",
          row_number().over(Window.orderBy(col("mean_b").asc, col("b").asc)))
        val global = Tables(s, d, "orders")
          .agg(
            count(lit(1)).as("n_orders"),
            expr("(2 * sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) + count(*)) div (2 * count(*))")
              .as("mean_cents"))
        global.crossJoin(
          ranked.agg(
            min(when(col("rk") === 2, col("mean_b"))).as("ci_lo_cents"),
            min(when(col("rk") === 19, col("mean_b"))).as("ci_hi_cents")))
      },
      Some(s"""
        WITH reps AS (
          SELECT b,
                 CAST((2 * sum(m * x) + sum(m)) // (2 * nullif(sum(m), 0)) AS BIGINT) AS mean_b
          FROM (
            SELECT b, x,
                   CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                        WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                        ELSE 4 END AS m
            FROM (
              SELECT t.b, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
                     ${hash60Duck("'bs' || t.b::VARCHAR || ':' || o_orderkey::VARCHAR")} % 1000000 AS u
              FROM orders, range(0, 20) t(b)))
          GROUP BY b),
        ranked AS (
          SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM reps),
        g AS (
          SELECT count(*) AS n_orders,
                 CAST((2 * sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) + count(*))
                      // (2 * count(*)) AS BIGINT) AS mean_cents
          FROM orders)
        SELECT n_orders, mean_cents,
               (SELECT mean_b FROM ranked WHERE rk = 2) AS ci_lo_cents,
               (SELECT mean_b FROM ranked WHERE rk = 19) AS ci_hi_cents
        FROM g""")),

    // ---- EWMA spike monitor on daily revenue: exact-integer
    // exponential smoothing. Alpha = 1/2 truncated at 16 terms makes
    // the weights powers of two (2^(16-k), k = 1..16 over the PRIOR 16
    // days), so the smoothed baseline is a ratio of exact integers —
    // no sequential float recurrence, no windows over raw rows. Days
    // contribute forward via a 16-way offset join on the BOUNDED daily
    // table; missing days just drop out of the weight sum. A day is a
    // spike when revenue > 2× its smoothed baseline — cross-multiplied
    // in DECIMAL(38,0), no division in the predicate.
    QueryDef(
      "q188_ewma_spikes",
      (s, d) => {
        val daily = Tables(s, d, "lineitem")
          .select(
            expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
          .groupBy("day").agg(sum("c").as("cents"))
          .localCheckpoint() // bounded (one row per day); feeds both join sides
        val contrib = daily
          .select(col("day"), col("cents"), explode(expr("sequence(1, 16)")).as("k"))
          .select((col("day") + col("k")).as("tday"),
            expr("CAST(cents AS DECIMAL(38,0)) * CAST(pow(2, 16 - k) AS BIGINT)").as("wc"),
            expr("CAST(pow(2, 16 - k) AS BIGINT)").as("w"))
          .groupBy("tday")
          .agg(sum("wc").as("num"), sum("w").as("wsum"))
        daily.join(contrib, daily("day") === contrib("tday"))
          .select(
            col("day"), col("cents"),
            expr("(2 * num + wsum) div (2 * wsum)").as("ewma_cents"),
            (expr("CAST(cents AS DECIMAL(38,0)) * wsum") >
              expr("2 * num")).as("spike"))
          .orderBy("day")
      },
      Some("""
        WITH daily AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
                 CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
          FROM lineitem GROUP BY 1),
        contrib AS (
          SELECT day + k AS tday,
                 CAST(sum(CAST(cents AS HUGEINT) * CAST(pow(2, 16 - k) AS BIGINT)) AS HUGEINT) AS num,
                 CAST(sum(CAST(pow(2, 16 - k) AS BIGINT)) AS BIGINT) AS wsum
          FROM daily, range(1, 17) t(k)
          GROUP BY 1)
        SELECT day, cents,
               CAST((2 * num + wsum) // (2 * wsum) AS BIGINT) AS ewma_cents,
               CAST(cents AS HUGEINT) * wsum > 2 * num AS spike
        FROM daily JOIN contrib ON tday = day
        ORDER BY day""")),

    // ---- delete-one-group jackknife: which source drags the corpus?
    // For each source, the mean doc length with that source REMOVED is
    // (S - S_g)/(N - n_g) — no second data pass, just the per-group
    // aggregate joined to broadcast totals. delta = loo_mean -
    // global_mean (exact integer chars, positive = removing the source
    // RAISES the mean = the source was dragging it down). The group-
    // level jackknife is the O(groups) influence analysis that an
    // O(N) leave-one-row-out could never be at corpus scale.
    QueryDef(
      "q189_jackknife_influence",
      (s, d) => {
        val per = Tables(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("ng"), sum("n_chars").as("sg"))
        val tot = per.agg(sum("ng").as("n"), sum("sg").as("s"))
        per.crossJoin(broadcast(tot))
          .select(
            col("source"), col("ng").as("n_docs"),
            expr("(2 * (s - sg) + (n - ng)) div (2 * (n - ng))").as("loo_mean_chars"),
            expr("""(2 * (s - sg) + (n - ng)) div (2 * (n - ng))
                    - (2 * s + n) div (2 * n)""").as("delta_chars"))
          .orderBy("source")
      },
      Some("""
        WITH per AS (
          SELECT source, count(*) AS ng, CAST(sum(n_chars) AS BIGINT) AS sg
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s FROM per)
        SELECT source, ng AS n_docs,
               CAST((2 * (s - sg) + (n - ng)) // (2 * (n - ng)) AS BIGINT) AS loo_mean_chars,
               CAST((2 * (s - sg) + (n - ng)) // (2 * (n - ng))
                    - (2 * s + n) // (2 * n) AS BIGINT) AS delta_chars
        FROM per, tot
        ORDER BY source""")),

    // ---- log2 document-length histogram per language: the
    // sequence-length planning table (how many docs land in each
    // power-of-two bucket). The bucket is the BIT LENGTH of n_chars —
    // integer-exact on both engines (binary-string length, no float
    // log2 whose value at exact powers of two is rounding-mode bait).
    // One groupBy; the share window runs over the bounded
    // (lang × ~12 buckets) table.
    QueryDef(
      "q190_length_log2_hist",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("lang"),
            expr("length(conv(n_chars, 10, 2))").as("log2_bucket"))
          .groupBy("lang", "log2_bucket")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("lang_total",
            sum("n_docs").over(Window.partitionBy("lang")))
          .select(
            col("lang"), col("log2_bucket").cast("long").as("log2_bucket"),
            col("n_docs"),
            expr("(2 * 1000000 * n_docs + lang_total) div (2 * lang_total)").as("share_ppm"))
          .orderBy("lang", "log2_bucket"),
      Some("""
        WITH h AS (
          SELECT lang, CAST(length(printf('%b', n_chars)) AS BIGINT) AS log2_bucket,
                 count(*) AS n_docs
          FROM documents GROUP BY 1, 2),
        wt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total FROM h GROUP BY 1)
        SELECT h.lang, log2_bucket, n_docs,
               CAST((2 * 1000000 * n_docs + lang_total) // (2 * lang_total) AS BIGINT) AS share_ppm
        FROM h JOIN wt ON wt.lang = h.lang
        ORDER BY h.lang, log2_bucket""")),
  )
}
