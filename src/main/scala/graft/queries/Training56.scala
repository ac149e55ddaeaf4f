package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.embDouble
import graft.operators.Similarity

/** Fifty-sixth wave — ranking quality and sketch set algebra:
  *
  *  - q336: NDCG@3 of the LSH index ranking against brute-force
  *    relevance — the graded ranking metric beside recall (q277) and
  *    precision (q191); at depth 3 the log2 discounts are PLAN-TIME
  *    integer constants (1e6, 630930, 500000 micro), so the whole
  *    metric is exact integer arithmetic.
  *  - q337: set intersection via HLL inclusion-exclusion
  *    (|A∩B| ≈ |A| + |B| − |A∪B| from three mergeable sketches) with
  *    exact witnesses and an error gate — the sketch-algebra sibling
  *    of q252's KMV intersection.
  */
object Training56 {
  private val DIM = 64

  /** Oracle SQL of a sibling QueryDef, wrapped as a parenthesized
    * subquery (DuckDB allows WITH inside a derived table).
    */
  private def sub(name: String): String =
    "(" + Vectors.defs.find(_.name == name)
      .getOrElse(sys.error(s"missing $name")).oracle
      .getOrElse(sys.error(s"$name has no oracle")) + ")"

  val defs: Seq[QueryDef] = Seq(

    // ---- NDCG@3 of the q50 LSH ranking: relevance = membership in
    // the exact brute-force top-3 (binary), discount weights at ranks
    // 1..3 are the constants (1e6, ⌊1e6/log₂3⌉, 5e5); per-query
    // NDCG_ppm = ⌈1e6·DCG / IDCG⌋ with IDCG = 2130930 (all three
    // relevant), then the mean over queries — every step a half-up
    // integer division, so the metric is engine-exact. The oracle
    // recomputes from the q49/q50 oracle SQL reused verbatim as
    // subqueries (zero drift).
    QueryDef(
      "q336_ndcg_eval",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
        val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "vec", k = 3)
          .select(col("query_id").as("eq"), col("cand_id").as("ec"))
        val lsh = Similarity.annTopK(
          emb, "vec_id", "vec", DIM,
          queryFilter = col("vec_id") < 20, k = 3,
          tables = 2, planesPerTable = 4)
        val w = expr(
          "CASE rnk WHEN 1 THEN 1000000L WHEN 2 THEN 630930L ELSE 500000L END")
        val hits = lsh
          .join(exact, lsh("query_id") === col("eq") &&
            lsh("cand_id") === col("ec"), "left_semi")
          .select(col("query_id"), w.as("gain"))
          .groupBy("query_id")
          .agg(sum("gain").as("dcg"))
        // every query scores — one with NO relevant hit in its LSH
        // top-3 contributes NDCG 0, not a dropped row (survivorship
        // would inflate the mean)
        val perQuery = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"), coalesce(col("dcg"), lit(0L)).as("dcg"))
        perQuery
          .select(col("query_id"),
            expr("CAST((2 * 1000000 * dcg + 2130930) div (2 * 2130930) AS BIGINT)")
              .as("ndcg_ppm"))
          .agg(count(lit(1)).as("n_queries"),
            expr("CAST((2 * sum(ndcg_ppm) + count(1)) div (2 * count(1)) AS BIGINT)")
              .as("mean_ndcg_ppm"),
            sum(when(col("ndcg_ppm") === 1000000L, 1L).otherwise(0L))
              .as("n_perfect"))
      },
      Some(s"""
        WITH lsh AS (SELECT * FROM ${sub("q50_ann_lsh")} z),
        ex AS (SELECT * FROM ${sub("q49_cosine_topk")} z),
        dcg AS (
          SELECT lsh.query_id,
                 CAST(sum(CASE lsh.rnk WHEN 1 THEN 1000000
                                       WHEN 2 THEN 630930
                                       ELSE 500000 END) AS BIGINT) AS dcg
          FROM lsh
          WHERE EXISTS (SELECT 1 FROM ex
                        WHERE ex.query_id = lsh.query_id
                          AND ex.cand_id = lsh.cand_id)
          GROUP BY 1),
        qs AS (
          SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 20),
        nd AS (
          SELECT qs.query_id,
                 (2 * 1000000 * coalesce(dcg, 0) + 2130930) // (2 * 2130930)
                   AS ndcg_ppm
          FROM qs LEFT JOIN dcg ON dcg.query_id = qs.query_id)
        SELECT count(*) AS n_queries,
               CAST((2 * sum(ndcg_ppm) + count(*)) // (2 * count(*)) AS BIGINT)
                 AS mean_ndcg_ppm,
               CAST(sum(CASE WHEN ndcg_ppm = 1000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_perfect
        FROM nd""")),

    // ---- HLL inclusion-exclusion intersection: |click ∩ purchase|
    // users estimated from THREE sketches (A, B, and their union via
    // hll_union — no re-scan builds the union sketch), gated against
    // the exact intersection within a tenth of the exact union (three
    // ±0.8% estimates compound; exact witnesses carry the truth). The
    // sketch-algebra answer when the raw key sets are too large to
    // intersect exactly — one data pass builds both sketches.
    QueryDef(
      "q337_hll_intersection",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), col("user_id"))
        val sk = ev.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
          .localCheckpoint() // estimates + union read it
        val ests = sk.agg(
          expr("hll_union_agg(sk)").as("u"),
          max(when(col("event_type") === "click",
            expr("hll_sketch_estimate(sk)"))).as("ea"),
          max(when(col("event_type") === "purchase",
            expr("hll_sketch_estimate(sk)"))).as("eb"))
          .select((col("ea") + col("eb") - expr("hll_sketch_estimate(u)"))
            .cast("long").as("est_i"))
        val exact = ev
          .select("event_type", "user_id").distinct()
          .groupBy("user_id").agg(count(lit(1)).as("nt"))
          .agg(
            sum(when(col("nt") === 2, 1L).otherwise(0L)).as("n_exact_i"),
            count(lit(1)).as("n_exact_u"))
        broadcast(exact).crossJoin(broadcast(ests))
          .select(col("n_exact_i"), col("n_exact_u"),
            (abs(col("est_i") - col("n_exact_i")) * 10 <= col("n_exact_u"))
              .as("hll_ok"))
      },
      Some("""
        WITH tu AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE event_type IN ('click', 'purchase')),
        c AS (
          SELECT user_id, count(*) AS nt FROM tu GROUP BY 1)
        SELECT CAST(sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact_i,
               count(*) AS n_exact_u,
               TRUE AS hll_ok
        FROM c""")),
  )
}
