package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Twenty-third wave: two encoder/sampler contracts. q225 is the
  * hashing trick (feature hashing): categorical cross features mapped
  * to a fixed 64-bucket space by hash, with the collision census that
  * tells you whether the bucket budget is big enough — the encoder
  * that needs NO vocabulary shuffle and no fit step, which is why
  * wide-cardinality pipelines use it at 100 TB. q226 pins the
  * mergeability of bottom-k (KMV) hash samples: per-source bottom-5
  * lists merged and re-cut equal the global bottom-5 computed
  * directly — the property that lets every partition sample
  * independently and a coordinator merge, with no second data pass.
  *
  * Scale shapes: q225 is one data-sized agg to the feature dictionary
  * (125 crosses) and pure metadata after; q226's per-source cut is a
  * keyed window over source partitions, both final cuts are
  * TakeOrdered — no global sort.
  */
object Training23 {
  val defs: Seq[QueryDef] = Seq(

    // ---- feature hashing: segment × nation cross features hashed
    // into 64 buckets (hash60 % 64 on the canonical "seg|nation"
    // string). Emits the capacity-planning row: distinct features,
    // buckets used, the worst bucket load, and how many features share
    // a bucket (collided weight in a linear model). Everything after
    // the (segment, nation) count is dictionary-sized.
    QueryDef(
      "q225_feature_hashing",
      (s, d) => {
        val feats = Tables(s, d, "customer")
          .groupBy(col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nk"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("bucket", expr(
            s"${hash60Spark("concat(seg, '|', cast(nk as string))")} % 64"))
          // pin the customer scan once: three downstream probes
          // (n_features, buckets, collided join) read the dictionary
          .localCheckpoint()
        val buckets = feats.groupBy("bucket")
          .agg(count(lit(1)).as("bsz"), sum("n_rows").as("brows"))
          .localCheckpoint()
        feats.agg(count(lit(1)).as("n_features"))
          .crossJoin(buckets.agg(
            count(lit(1)).as("buckets_used"),
            max("bsz").as("max_features_per_bucket"),
            max("brows").as("max_rows_per_bucket")))
          .crossJoin(
            feats.join(buckets.where(col("bsz") > 1).select("bucket"),
              "bucket")
              .agg(count(lit(1)).as("n_collided_features")))
      },
      Some(s"""
        WITH feats AS (
          SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nk,
                 count(*) AS n_rows
          FROM customer GROUP BY 1, 2),
        hashed AS (
          SELECT seg, nk, n_rows,
                 ${hash60Duck("seg || '|' || nk::VARCHAR")} % 64 AS bucket
          FROM feats),
        buckets AS (
          SELECT bucket, count(*) AS bsz,
                 CAST(sum(n_rows) AS BIGINT) AS brows
          FROM hashed GROUP BY 1)
        SELECT (SELECT count(*) FROM hashed) AS n_features,
               (SELECT count(*) FROM buckets) AS buckets_used,
               (SELECT max(bsz) FROM buckets) AS max_features_per_bucket,
               (SELECT max(brows) FROM buckets) AS max_rows_per_bucket,
               (SELECT count(*) FROM hashed h
                JOIN buckets b ON h.bucket = b.bucket AND b.bsz > 1)
                 AS n_collided_features"""
      )),

    // ---- bottom-k (KMV) sample mergeability: rank every doc by
    // hash60(doc_id); cut bottom-5 PER SOURCE (keyed window), merge
    // the ≤5·|sources| candidates, re-cut to 5; compute the global
    // bottom-5 directly; emit both paths full-outer-joined with a
    // match flag the oracle pins TRUE row-by-row. This is the algebra
    // that makes distributed hash sampling single-pass: any partition
    // of the data may cut locally, because the global bottom-k is a
    // subset of the union of local bottom-ks.
    QueryDef(
      "q226_bottomk_sample_merge",
      (s, d) => {
        val ranked = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr(s"${hash60Spark("cast(doc_id as string)")}").as("rk"))
        val direct = ranked.orderBy(col("rk"), col("doc_id")).limit(5)
          .select(col("doc_id"), col("rk"))
        val local = ranked.withColumn("pos", row_number().over(
          Window.partitionBy("source").orderBy(col("rk"), col("doc_id"))))
          .where(col("pos") <= 5)
        val merged = local.orderBy(col("rk"), col("doc_id")).limit(5)
          .select(col("doc_id").as("m_doc"), col("rk").as("m_rk"))
        direct.join(merged, col("doc_id") === col("m_doc"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("m_doc")).as("doc_id"),
            coalesce(col("rk"), col("m_rk")).as("rk"),
            (col("doc_id").isNotNull && col("m_doc").isNotNull)
              .as("merge_matches_direct"))
      },
      Some(s"""
        WITH ranked AS (
          SELECT doc_id, source,
                 ${hash60Duck("doc_id::VARCHAR")} AS rk
          FROM documents),
        direct AS (
          SELECT doc_id, rk FROM ranked ORDER BY rk, doc_id LIMIT 5),
        local AS (
          SELECT doc_id, rk,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY rk, doc_id) AS pos
          FROM ranked),
        merged AS (
          SELECT doc_id AS m_doc, rk AS m_rk
          FROM local WHERE pos <= 5 ORDER BY rk, doc_id LIMIT 5)
        SELECT coalesce(d.doc_id, m.m_doc) AS doc_id,
               coalesce(d.rk, m.m_rk) AS rk,
               d.doc_id IS NOT NULL AND m.m_doc IS NOT NULL
                 AS merge_matches_direct
        FROM direct d FULL OUTER JOIN merged m ON d.doc_id = m.m_doc""")),
  )
}
