package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.Dedup
import graft.operators.TextOps._

/** Fourteenth wave: LSH self-diagnostics — the measurements that turn
  * the dedup stack's design constants (4 bands × 2 rows, df cap 64,
  * bucket cap 32) from assertions into queryable evidence. q191 scores
  * the banded candidate generator against exact-Jaccard ground truth
  * (the parameter-tuning loop every production near-dup pipeline
  * runs); q192 profiles the shingle document-frequency distribution
  * (the power-law that motivates the df cap); q193 profiles LSH band
  * occupancy (the bucket-size distribution the maxBucket cap bounds).
  *
  * All three reuse the exact q46/q47 machinery — operators on the
  * Spark side, the same CTE text on the oracle side — so the
  * diagnostics measure precisely the production path, not a parallel
  * implementation of it.
  */
object Training14 {
  /** q46's candidate CTE chain (bands + bucket cap), ending in
    * `pairs(doc_a, doc_b)`.
    */
  private def candidatePairsDuck: String =
    s"""wh AS (SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
       |hashed AS (SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS hh FROM wh),
       |sig AS (
       |  SELECT doc_id,
       |         ${(0 until 4).map(b => s"${bandDuck(b, 2, "hh")} AS band$b").mkString(",\n         ")}
       |  FROM hashed),
       |stacked AS (
       |  ${(0 until 4).map(b => s"SELECT doc_id, $b AS band_idx, band$b AS band_key FROM sig")
      .mkString("\n  UNION ALL ")}),
       |ok AS (SELECT band_idx, band_key FROM stacked
       |       GROUP BY 1, 2 HAVING count(*) <= 32),
       |kept AS (SELECT s.* FROM stacked s JOIN ok USING (band_idx, band_key)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)""".stripMargin

  /** q47's exact-Jaccard CTE chain (df cap 64), ending in
    * `truth(doc_a, doc_b)` = pairs at or above the 0.5 threshold.
    */
  private def truthPairsDuck: String =
    s"""ex0 AS (SELECT doc_id, unnest(hh) AS h FROM hashed),
       |hot AS (SELECT h FROM ex0 GROUP BY h HAVING count(*) > 64),
       |ex AS (SELECT * FROM ex0 WHERE h NOT IN (SELECT h FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b
       |  FROM shared
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.5)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- precision/recall of MinHash-LSH candidates vs exact-Jaccard
    // ground truth at threshold 0.5: the S-curve check that tunes
    // (bands, rowsPerBand). Truth comes from the q47 co-occurrence
    // join — NOT an all-pairs sweep: a pair sharing no shingle has
    // Jaccard 0 and cannot reach any threshold, so co-occurring pairs
    // are the complete truth set. Both sides are deterministic, so the
    // quality of an approximate index is itself an oracle-checkable
    // number — the q63/q130 recall-eval discipline applied to dedup.
    QueryDef(
      "q191_minhash_pr",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val cand = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
          .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
            lit(1L).as("is_cand"))
        val truth = Dedup.jaccardPairs(docs, "doc_id", "text", dfCap = 64)
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
        cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            coalesce(sum("is_true"), lit(0L)).as("n_truth"),
            coalesce(sum("is_cand"), lit(0L)).as("n_candidates"),
            coalesce(sum(expr("is_true * is_cand")), lit(0L)).as("tp"))
          .select(
            col("n_truth"), col("n_candidates"), col("tp"),
            coalesce(expr("(2 * 1000000 * tp + n_candidates) div (2 * nullif(n_candidates, 0))"),
              lit(0L)).as("precision_ppm"),
            coalesce(expr("(2 * 1000000 * tp + n_truth) div (2 * nullif(n_truth, 0))"),
              lit(0L)).as("recall_ppm"))
      },
      Some(s"""
        WITH $candidatePairsDuck,
        $truthPairsDuck,
        m AS (
          SELECT coalesce(t.doc_a, p.doc_a) AS doc_a,
                 CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS is_true,
                 CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand
          FROM truth t
          FULL OUTER JOIN pairs p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
        a AS (
          SELECT CAST(sum(is_true) AS BIGINT) AS n_truth,
                 CAST(sum(is_cand) AS BIGINT) AS n_candidates,
                 CAST(sum(is_true * is_cand) AS BIGINT) AS tp
          FROM m)
        SELECT n_truth, n_candidates, tp,
               coalesce(CAST((2 * 1000000 * tp + n_candidates)
                             // (2 * nullif(n_candidates, 0)) AS BIGINT), 0) AS precision_ppm,
               coalesce(CAST((2 * 1000000 * tp + n_truth)
                             // (2 * nullif(n_truth, 0)) AS BIGINT), 0) AS recall_ppm
        FROM a""")),

    // ---- shingle document-frequency profile: how heavy is the tail
    // that the df cap protects against? One explode + two keyed aggs;
    // buckets are bit lengths (q190's integer log2). total_df is the
    // self-join row mass a bucket WOULD contribute ∝ Σ df² — the
    // reason df>cap shingles are dropped: high buckets carry huge join
    // cost and no near-dup signal.
    QueryDef(
      "q192_shingle_df_hist",
      (s, d) =>
        Tables(s, d, "documents")
          .withColumn("__wh", expr(wordHashesSpark("text")))
          .select(explode(expr(ngramHashesSpark(3, "__wh"))).as("h"))
          .groupBy("h").agg(count(lit(1)).as("df"))
          .groupBy(expr("CAST(length(conv(df, 10, 2)) AS BIGINT)").as("df_log2_bucket"))
          .agg(
            count(lit(1)).as("n_shingles"),
            sum("df").as("total_df"),
            sum(expr("CAST(df AS DECIMAL(38,0)) * df")).cast("long").as("join_rows"))
          .orderBy("df_log2_bucket"),
      Some(s"""
        WITH wh AS (SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
        hashed AS (SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS hh FROM wh),
        dfs AS (
          SELECT h, count(*) AS df
          FROM (SELECT doc_id, unnest(hh) AS h FROM hashed)
          GROUP BY 1)
        SELECT CAST(length(printf('%b', df)) AS BIGINT) AS df_log2_bucket,
               count(*) AS n_shingles,
               CAST(sum(df) AS BIGINT) AS total_df,
               CAST(sum(df * df) AS BIGINT) AS join_rows
        FROM dfs
        GROUP BY 1
        ORDER BY df_log2_bucket""")),

    // ---- LSH band occupancy: the bucket-size distribution behind the
    // maxBucket=32 cap. Since candidate generation costs Σ size² per
    // bucket, the histogram (with its size² mass column) is exactly
    // the cost model; max size per band is the witness that the
    // harness corpus never trips the cap (so capped == uncapped here).
    QueryDef(
      "q193_band_occupancy",
      (s, d) => {
        val bands = Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text")
        val bandCols = bands.columns.filter(_.startsWith("band"))
        bands
          .select(col("doc_id"),
            posexplode(array(bandCols.map(col).toIndexedSeq: _*)).as(Seq("band_idx", "band_key")))
          .groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("band_idx").cast("long").as("band_idx"), col("sz").as("bucket_size"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(expr("CAST(sz AS DECIMAL(38,0)) * sz")).cast("long").as("pair_mass"))
          .orderBy("band_idx", "bucket_size")
      },
      Some(s"""
        WITH wh AS (SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
        hashed AS (SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS hh FROM wh),
        sig AS (
          SELECT doc_id,
                 ${(0 until 4).map(b => s"${bandDuck(b, 2, "hh")} AS band$b").mkString(",\n                 ")}
          FROM hashed),
        stacked AS (
          ${(0 until 4).map(b => s"SELECT doc_id, $b AS band_idx, band$b AS band_key FROM sig")
        .mkString("\n          UNION ALL ")}),
        occ AS (
          SELECT band_idx, band_key, count(*) AS sz
          FROM stacked GROUP BY 1, 2)
        SELECT CAST(band_idx AS BIGINT) AS band_idx, sz AS bucket_size,
               count(*) AS n_buckets,
               CAST(sum(sz * sz) AS BIGINT) AS pair_mass
        FROM occ
        GROUP BY 1, 2
        ORDER BY band_idx, bucket_size""")),
  )
}
