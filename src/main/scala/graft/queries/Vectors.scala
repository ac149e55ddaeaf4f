package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.Tables.embDouble
import graft.functions.CosineSimilarity
import graft.operators.Similarity
import graft.operators.VectorOps._

/** Similarity search over the embeddings table (`array<float>` vectors):
  * brute-force cosine top-k as the exact baseline, and a deterministic
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale design: brute force is a broadcast cross join — O(Q·N) with the
  * query side tiny; it is the correct *oracle*, not the production path.
  * The LSH variant buckets both sides on a hyperplane sign key so the
  * pair join only touches same-bucket candidates; recall is tuned by
  * planes (here 8 → 256 buckets). All vector math is per-row
  * higher-order-function folds over array<double> — codegen'd, no UDF.
  */
object Vectors {
  private val DIM = 64

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-3 neighbors for the first 20 vectors
    QueryDef(
      "q49_cosine_topk",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "vec", k = 3)
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        SELECT query_id, cand_id, cos_sim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, cand_id) AS rnk
              FROM sims) t
        WHERE rnk <= 3""")),

    // ---- LSH-bucketed ANN, multi-table: 2 independent hash tables of 4
    // hyperplanes each (16 buckets/table). Candidates are the union of
    // same-bucket neighbors across tables — the standard recall lever
    // (one table of many planes gives singleton buckets and near-zero
    // recall). Deterministic md5-derived planes → oracled in DuckDB.
    QueryDef(
      "q50_ann_lsh",
      (s, d) =>
        Similarity.annTopK(
          embDouble(Tables(s, d, "embeddings")), "vec_id", "vec", DIM,
          queryFilter = col("vec_id") < 20, k = 3,
          tables = 2, planesPerTable = 4),
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        bucketed AS (
          SELECT vec_id, vec,
                 ${lshBucketDuck("vec", DIM, 4, 0)} AS b0,
                 ${lshBucketDuck("vec", DIM, 4, 4)} AS b1
          FROM emb),
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id
          FROM bucketed q JOIN bucketed c
            ON q.b0 = c.b0 AND q.vec_id < 20 AND q.vec_id <> c.vec_id
          UNION
          SELECT q.vec_id, c.vec_id
          FROM bucketed q JOIN bucketed c
            ON q.b1 = c.b1 AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
        sims AS (
          SELECT query_id, cand_id,
                 round(${cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM cand JOIN emb q ON cand.query_id = q.vec_id
                    JOIN emb c ON cand.cand_id = c.vec_id)
        SELECT query_id, cand_id, cos_sim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, cand_id) AS rnk
              FROM sims) t
        WHERE rnk <= 3""")),

    // ---- multimodal binary plumbing: text→binary, typed Dataset
    // mapPartitions "decoder" (stubbed feature extraction — the real
    // image/audio codec slot), schema/batching real and oracle-checked.
    QueryDef(
      "q51_multimodal_binary",
      (s, d) => {
        // REAL decoder (round-8, replacing the byte-sum stub that sat
        // here since r1): each document plants a genuine 24-bit BMP —
        // dimensions and every pixel a closed-form function of doc_id —
        // and the typed-mapPartitions decode slot parses the ACTUAL
        // format (magic, header offsets, bottom-up padded pixel rows,
        // BGR order) via BmpCodec.decode24, emitting width/height/
        // per-channel sums. The oracle recomputes those stats from the
        // same closed form, so a decoder that misreads the header,
        // forgets row padding, or swaps channels hash-fails. Pure
        // per-partition work, zero shuffles — the 100 TB multimodal
        // shape (decode library state is per-partition; swap decode24
        // for a JPEG/PNG lib call on a real deployment).
        import s.implicits._
        import graft.operators.BmpCodec
        val imgs = Tables(s, d, "documents")
          .select(col("doc_id")).as[Long]
          .map { id =>
            val did = id % 1000000L
            val w = (1L + id % 7L).toInt
            val h = (1L + id % 5L).toInt
            (id, BmpCodec.encode24(w, h, (x, y) => (
              ((did + 3L * x + 7L * y) % 256L).toInt,
              ((2L * did + 5L * x + y) % 256L).toInt,
              ((3L * did + x + 11L * y) % 256L).toInt)))
          }
        imgs.mapPartitions { iter =>
          // a real decoder library would be constructed ONCE here, per
          // partition, and stream the batch through it
          iter.map { case (id, payload) =>
            val dec = BmpCodec.decode24(payload)
            (id, dec.nBytes, dec.width, dec.height,
              dec.sumR, dec.sumG, dec.sumB)
          }
        }.toDF("doc_id", "n_bytes", "width", "height",
          "sum_r", "sum_g", "sum_b")
      },
      Some("""
        SELECT doc_id,
               CAST(54 + (1 + doc_id % 5) *
                    (((3 * (1 + doc_id % 7) + 3) // 4) * 4) AS BIGINT) AS n_bytes,
               CAST(1 + doc_id % 7 AS INTEGER) AS width,
               CAST(1 + doc_id % 5 AS INTEGER) AS height,
               CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 5), y ->
                    list_transform(range(0, 1 + doc_id % 7), x ->
                      (doc_id % 1000000 + 3 * x + 7 * y) % 256))))
                 AS BIGINT) AS sum_r,
               CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 5), y ->
                    list_transform(range(0, 1 + doc_id % 7), x ->
                      (2 * (doc_id % 1000000) + 5 * x + y) % 256))))
                 AS BIGINT) AS sum_g,
               CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 5), y ->
                    list_transform(range(0, 1 + doc_id % 7), x ->
                      (3 * (doc_id % 1000000) + x + 11 * y) % 256))))
                 AS BIGINT) AS sum_b
        FROM documents""")),

    // ---- embedding-cosine near-dup: vector pairs above a similarity
    // threshold, discovered through LSH buckets (completes the dedup
    // family: exact q44, MinHash q46, SimHash q48, embedding q53). Same
    // scale shape as q50: the only join is per-bucket.
    QueryDef(
      "q53_embedding_neardup",
      (s, d) =>
        Similarity.nearDupPairs(
          embDouble(Tables(s, d, "embeddings")), "vec_id", "vec", DIM,
          threshold = 0.35, planes = 8),
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        bucketed AS (
          SELECT vec_id, vec, ${lshBucketDuck("vec", DIM, 8)} AS bucket FROM emb)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${cosineDuck("a.vec", "b.vec")}, 4) AS cos_sim
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(${cosineDuck("a.vec", "b.vec")}, 4) >= 0.35""")),

    // ---- K-Means clustering over embeddings, fully driver-oracled:
    // DeterministicKMeans runs Lloyd's in exact integer micro-unit
    // arithmetic (bit-identical on any engine / partitioning), so the
    // DuckDB oracle replays the identical fixed-point algorithm as
    // unrolled SQL and the hashes must agree — no more `no_oracle` gap
    // for iterative clustering. (MLlib KMeans — float accumulation,
    // engine-specific — remains the wafer-pipeline G2 path, pinned by
    // WaferPipelineSpec; the IVF coarse quantizer also uses it.)
    // Output pins membership, not just sizes: id_sum per cluster.
    QueryDef(
      "q52_kmeans_embeddings",
      (s, d) =>
        graft.operators.DeterministicKMeans.clusterSizes(
          Tables(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 5),
      Some(graft.operators.DeterministicKMeans.clusterSizesDuck(
        "embeddings", "vec_id", "embedding", k = 8, iters = 5))),

    // ---- per-dimension embedding statistics (normalization check /
    // feature-drift monitoring): posexplode the vector column, group by
    // dimension index. One shuffle keyed by dim (64 keys) with partial
    // aggregation map-side — the per-row expansion never materializes
    // beyond the exchange.
    QueryDef(
      "q84_embedding_dimstats",
      (s, d) =>
        embDouble(Tables(s, d, "embeddings"))
          .select(col("vec_id"), posexplode(col("vec")).as(Seq("dim", "x")))
          .groupBy(col("dim").cast("long").as("dim"))
          .agg(
            count(lit(1)).as("n"),
            round(graft.Num.dsum(col("x")) / count(col("x")), 6).as("mean_x"),
            round(min("x"), 6).as("min_x"),
            round(max("x"), 6).as("max_x")),
      Some(s"""
        WITH ex AS (
          SELECT vec_id,
                 unnest(range(len(embedding))) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings)
        SELECT dim, count(*) AS n,
               round(${graft.Num.dsumSql("x")} / count(x), 6) AS mean_x,
               round(min(x), 6) AS min_x,
               round(max(x), 6) AS max_x
        FROM ex GROUP BY dim""")),

    // ---- matryoshka-truncation recall: rank neighbors by the first 16
    // dims only and measure how much of the exact 64-dim top-3 the
    // truncated ranking recovers. This is the cheap-prefilter pattern
    // (search truncated, re-rank full) evaluated in-engine: n_overlap/3
    // per query is the recall the 4× cheaper index would buy. Both
    // rankings go through the same rounded-cosine + id-tiebreak recipe
    // as q49, so the comparison itself is deterministic and oracled.
    QueryDef(
      "q130_matryoshka_recall",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings")).cache()
        try {
          val q = col("vec_id") < 10
          val full = Similarity
            .bruteForceTopK(emb.filter(q), emb, "vec_id", "vec", k = 3)
            .select("query_id", "cand_id")
          val emb16 = emb.select(
            col("vec_id"), expr("slice(vec, 1, 16)").as("vec"))
          val trunc = Similarity
            .bruteForceTopK(emb16.filter(q), emb16, "vec_id", "vec", k = 3)
            .select(col("query_id"), col("cand_id").as("t_cand"))
          full
            .join(trunc,
              full("query_id") === trunc("query_id") &&
                full("cand_id") === trunc("t_cand"), "left")
            .groupBy(full("query_id").as("query_id"))
            .agg(
              count(lit(1)).as("n_full"),
              sum(when(col("t_cand").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
            .localCheckpoint()
        } finally emb.unpersist()
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        emb16 AS (SELECT vec_id, vec[1:16] AS vec FROM emb),
        full_top AS (
          SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(${cosineDuck("q.vec", "c.vec")}, 4) DESC, c.vec_id) AS rnk
            FROM emb q JOIN emb c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
          WHERE rnk <= 3),
        trunc_top AS (
          SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(${cosineDuck("q.vec", "c.vec")}, 4) DESC, c.vec_id) AS rnk
            FROM emb16 q JOIN emb16 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
          WHERE rnk <= 3)
        SELECT f.query_id, count(*) AS n_full,
               CAST(sum(CASE WHEN t.cand_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_overlap
        FROM full_top f
        LEFT JOIN trunc_top t
          ON t.query_id = f.query_id AND t.cand_id = f.cand_id
        GROUP BY f.query_id""")),
  )
}
