package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Num, QueryDef, Tables}

/** Fiftieth wave — statistical process control, incremental distinct,
  * URL canonicalization:
  *
  *  - q323: Western Electric SPC rules over the daily event-count
  *    series (rule 1: beyond 3σ; rule 2: 2-of-3 beyond 2σ same side;
  *    rule 4: 8 consecutive same side) — the control-chart monitor,
  *    windows over the DAY DICTIONARY only.
  *  - q324: incremental distinct via stored bitmap artifacts — per-day
  *    bitmap aggregates OR-merged to answer period distincts WITHOUT
  *    re-scanning raw keys (the reusable-sketch shape q312 hints at,
  *    exact by construction).
  *  - q325: URL canonicalization + dedup (lowercase host, strip
  *    tracking params and fragments) — the crawl-pipeline normalizer
  *    in front of every exact-URL dedup.
  */
object Training50 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Western Electric control rules on daily event counts. The
    // center line / σ come from exact decimal moments over the day
    // dictionary (ddof=0 — the q23 scaler convention), deviations are
    // compared in EXACT integer cross-multiplication form (n·(x−μ)²
    // vs k²·Var·…) so no float σ ever materializes: rule1 fires iff
    // n·(x·n−S)² > 9·n·(n·Q−S²) with S=Σx, Q=Σx² — all BIGINT-exact
    // after ×n scaling. Rules 2 and 4 are windows over the ~30-row
    // day dictionary. The data-sized pass is ONE keyed count.
    QueryDef(
      "q323_spc_rules",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val m = daily.agg(
          count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        val w = Window.orderBy("day")
        val dev = daily.crossJoin(broadcast(m))
          // dev_n = n·x − S  (n× the deviation from the mean; integer)
          .withColumn("dev_n", col("n") * col("x") - col("sx"))
          // var_nn = n·(n·Q − S²) = n³·Var (integer, ≥ 0)
          .withColumn("var_nn",
            col("n") * (col("n") * col("sxx") - col("sx") * col("sx")))
          .withColumn("r1",
            col("dev_n") * col("dev_n") * col("n") > col("var_nn") * 9)
          .withColumn("beyond2",
            when(col("dev_n") * col("dev_n") * col("n") > col("var_nn") * 4,
              signum(col("dev_n"))).otherwise(0.0))
          .withColumn("side", signum(col("dev_n")))
        dev
          .withColumn("r2",
            (abs(sum(when(col("beyond2") === 1.0, 1).otherwise(0)).over(
              w.rowsBetween(-2, 0))) >= 2 && col("beyond2") === 1.0) ||
              (abs(sum(when(col("beyond2") === -1.0, 1).otherwise(0)).over(
                w.rowsBetween(-2, 0))) >= 2 && col("beyond2") === -1.0))
          .withColumn("r4",
            sum(when(col("side") === 1.0, 1).otherwise(0)).over(
              w.rowsBetween(-7, 0)) === 8 ||
              sum(when(col("side") === -1.0, 1).otherwise(0)).over(
                w.rowsBetween(-7, 0)) === 8)
          .select(col("day"), col("x").as("n_events"),
            col("r1").as("rule1_3sigma"),
            col("r2").as("rule2_2of3"),
            col("r4").as("rule4_run8"))
          .orderBy("day")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS x
          FROM events GROUP BY 1),
        m AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM daily),
        dev AS (
          SELECT day, x,
                 n * x - sx AS dev_n,
                 n * (n * sxx - sx * sx) AS var_nn,
                 sign(n * x - sx) AS side,
                 CASE WHEN (n * x - sx) * (n * x - sx) * n
                           > n * (n * sxx - sx * sx) * 4
                      THEN sign(n * x - sx) ELSE 0 END AS beyond2
          FROM daily, m)
        SELECT day, x AS n_events,
               dev_n * dev_n * n > var_nn * 9 AS rule1_3sigma,
               ((sum(CASE WHEN beyond2 = 1 THEN 1 ELSE 0 END) OVER w3 >= 2
                 AND beyond2 = 1)
                OR (sum(CASE WHEN beyond2 = -1 THEN 1 ELSE 0 END) OVER w3 >= 2
                 AND beyond2 = -1)) AS rule2_2of3,
               (sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 = 8
                OR sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) OVER w8 = 8)
                 AS rule4_run8
        FROM dev, m
        WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ORDER BY day""")),

    // ---- incremental distinct from stored bitmap artifacts: per-day
    // (bucket, bitmap) aggregates are built ONCE (the artifact a metric
    // store persists beside each daily partition), then arbitrary
    // periods are answered by OR-merging bitmaps — bitmap_or_agg over
    // artifact rows, never a rescan of raw keys. Exact (bitmaps are
    // exact), so the oracle is plain COUNT(DISTINCT) per period. The
    // artifact table is (days × buckets) rows of fixed 4KB width —
    // the incremental-rollup shape exact distinct needs at 100 TB.
    QueryDef(
      "q324_bitmap_incremental_distinct",
      (s, d) => {
        val art = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy(col("day"), expr("bitmap_bucket_number(user_id)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
            .as("bm"))
          .withColumn("period",
            when(dayofmonth(col("day")) <= 15, "first_half")
              .otherwise("second_half"))
          .localCheckpoint() // the stored artifact: both rollups read it
        val perPeriod = art.groupBy("period", "bucket")
          .agg(expr("bitmap_or_agg(bm)").as("obm"))
          .groupBy("period")
          .agg(sum(expr("bitmap_count(obm)")).as("n_distinct"))
        val full = art.groupBy("bucket")
          .agg(expr("bitmap_or_agg(bm)").as("obm"))
          .agg(sum(expr("bitmap_count(obm)")).as("n_distinct"))
          .select(lit("full_month").as("period"), col("n_distinct"))
        perPeriod.unionByName(full).orderBy("period")
      },
      Some("""
        WITH ev AS (
          SELECT CAST(ts AS DATE) AS dt, user_id FROM events)
        SELECT 'first_half' AS period,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM ev WHERE extract(day FROM dt) <= 15
        UNION ALL
        SELECT 'full_month', CAST(count(DISTINCT user_id) AS BIGINT) FROM ev
        UNION ALL
        SELECT 'second_half', CAST(count(DISTINCT user_id) AS BIGINT)
        FROM ev WHERE extract(day FROM dt) > 15
        ORDER BY period""")),

    // ---- URL canonicalization + dedup: planted crawl URLs carry the
    // classic noise — uppercase hosts, utm_* tracking params, fragments,
    // trailing default ports — and the canonicalizer (lowercase host,
    // strip :443, drop utm params, drop fragment) must collapse each
    // doc's 3 planted variants to ONE canonical form. Per-row regexp
    // work into one canonical-keyed agg (the crawl-dedup front door;
    // exact dedup q44 runs on the canonical key after).
    QueryDef(
      "q325_url_canonical_dedup",
      (s, d) => {
        val variants = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(array(
              concat(lit("https://EX"), (col("doc_id") % 5).cast("string"),
                lit(".COM/p/"), col("doc_id").cast("string"),
                lit("?utm_source=x&id="), col("doc_id").cast("string")),
              concat(lit("https://ex"), (col("doc_id") % 5).cast("string"),
                lit(".com:443/p/"), col("doc_id").cast("string"),
                lit("?id="), col("doc_id").cast("string"), lit("#frag")),
              concat(lit("https://ex"), (col("doc_id") % 5).cast("string"),
                lit(".com/p/"), col("doc_id").cast("string"),
                lit("?id="), col("doc_id").cast("string"),
                lit("&utm_campaign=y")))).as("url"))
        // canonical form via the structured parser (q311's parse_url):
        // lowercase host (port dropped by HOST extraction), path as-is,
        // query with utm_* params stripped, fragment dropped by QUERY/
        // PATH extraction — rebuild from parts instead of string
        // surgery on the whole URL.
        val canon = variants
          .withColumn("qc",
            regexp_replace(regexp_replace(regexp_replace(
              coalesce(expr("parse_url(url, 'QUERY')"), lit("")),
              "(^|&)utm_[^&]*", "$1"), "&&+", "&"), "(^&)|(&$)", ""))
          .withColumn("curl", concat(
            lit("https://"), lower(expr("parse_url(url, 'HOST')")),
            expr("parse_url(url, 'PATH')"),
            when(col("qc") =!= "", concat(lit("?"), col("qc")))
              .otherwise(lit(""))))
        canon.groupBy("curl")
          .agg(count(lit(1)).as("n_variants"),
            countDistinct("doc_id").as("n_docs"))
          .groupBy("n_variants")
          .agg(count(lit(1)).as("n_canonical_urls"),
            sum("n_docs").as("n_docs"))
          .orderBy("n_variants")
      },
      Some("""
        SELECT 3 AS n_variants,
               CAST(count(*) AS BIGINT) AS n_canonical_urls,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        ORDER BY n_variants""")),
  )
}
