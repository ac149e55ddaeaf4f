package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.embDouble
import graft.operators.{Similarity, VectorOps}

/** Eighteenth wave: second-stage retrieval — the operators between "ANN
  * gave me candidates" and "these rows go in the training batch". q209
  * is ColBERT-style late interaction (MaxSim): multi-vector scoring
  * where each side contributes sub-vectors and the score sums the
  * per-query-subvector best matches. q210 is the mutual-kNN graph (the
  * reciprocal-neighbor filter that separates true near-dup clusters
  * from hub vectors that are "near everything"). q211 is Rocchio
  * pseudo-relevance feedback: centroid of the first-pass top-k, then a
  * second-pass re-rank against that centroid. q212 is kNN
  * classification with majority vote — the label-noise audit (how often
  * do my neighbors disagree with my label?).
  *
  * Scale shapes: all four run brute-force scoring here because the
  * harness corpus is exact-oracle-sized; the production swap is the
  * LSH/IVF candidate generator (q50/q63/q112) feeding the SAME
  * downstream joins — every stage after candidate generation is
  * candidate-bounded (top-k lists, centroids, votes), so the shapes
  * survive a corpus the candidates' corpus-fraction sets, not N².
  * Double sums happen in fixed list/rank order on both engines (zip
  * folds; rank-sorted centroid fold), so no decimal machinery is
  * needed for cross-engine equality.
  */
object Training18 {
  private val DIM = 64

  /** Cosine over array<double> with `tag`-suffixed lambda variables so
    * the expression can nest inside outer higher-order functions
    * without lambda-name collisions.
    */
  private def cosTagged(a: String, b: String, g: String): String =
    s"""(aggregate(zip_with($a, $b, (x$g, y$g) -> x$g * y$g), 0D,
       |           (p$g, q$g) -> p$g + q$g)
       | / nullif(sqrt(aggregate($a, 0D, (m$g, n$g) -> m$g + n$g * n$g))
       |          * sqrt(aggregate($b, 0D, (u$g, w$g) -> u$g + w$g * w$g)),
       |          0D))""".stripMargin

  /** 4 sub-vectors of 16 dims (simulated token embeddings). */
  private def subsSpark(v: String): String =
    s"array(slice($v, 1, 16), slice($v, 17, 16), slice($v, 33, 16), slice($v, 49, 16))"
  private def subsDuck(v: String): String =
    s"[$v[1:16], $v[17:32], $v[33:48], $v[49:64]]"

  private def cosDuck(a: String, b: String): String = VectorOps.cosineDuck(a, b)

  val defs: Seq[QueryDef] = Seq(

    // ---- ColBERT-style MaxSim late interaction: score(Q, D) =
    // Σ_i max_j cos(q_i, d_j) over 4×16-dim sub-vectors per side. The
    // nested fold is one codegen'd expression per candidate row — no
    // UDF, no explode: the 4×4 similarity matrix never materializes.
    // Top-3 per query, rank ties broken by candidate id.
    QueryDef(
      "q209_maxsim_late_interaction",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
          .withColumn("__subs", expr(subsSpark("vec")))
          .select(col("vec_id"), col("__subs"))
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("__subs").as("__qs"))
        val c = emb.select(col("vec_id").as("cand_id"), col("__subs").as("__cs"))
        val scored = broadcast(q)
          .join(c, col("query_id") =!= col("cand_id"))
          .withColumn("maxsim", expr(
            s"""round(aggregate(
               |  transform(__qs, qs -> array_max(
               |    transform(__cs, cs -> ${cosTagged("qs", "cs", "1")}))),
               |  0D, (accS, vS) -> accS + vS), 4)"""
              .stripMargin))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("query_id")
          .orderBy(col("maxsim").desc, col("cand_id").asc)
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("query_id", "cand_id", "maxsim", "rnk")
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id,
                 ${subsDuck("list_transform(embedding, x -> CAST(x AS DOUBLE))")}
                   AS subs
          FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(list_sum(list_transform(q.subs, qs ->
                   list_max(list_transform(c.subs, cs ->
                     ${cosDuck("qs", "cs")})))), 4) AS maxsim
          FROM emb q JOIN emb c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        SELECT query_id, cand_id, maxsim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY maxsim DESC, cand_id) AS rnk
              FROM scored) t
        WHERE rnk <= 3""")),

    // ---- mutual-kNN graph: unordered pairs where each side ranks the
    // other in its top-3. Hub vectors fail the reciprocity test; true
    // near-dup twins pass — the standard graph cleanup before
    // clustering. The pair join runs over the top-k lists (3N rows),
    // never the score matrix.
    QueryDef(
      "q210_mutual_knn",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
        // materialize the top-k list once: both sides of the reciprocal
        // join read it, and re-deriving it would run the scoring pass
        // twice (the expensive stage of the whole query).
        // SCALE-DISPATCHED (round-8): autoTopK routes by corpus size —
        // engine-exact brute force below the 100k brute limit (this
        // harness scale, so the oracle stays the exact SQL), IVF with
        // √N lists above it (the q229 form, 1.7× measured at 10×).
        val top = Similarity.autoTopK(emb, "vec_id", "vec", lit(true), k = 3)
          .localCheckpoint()
        val rev = top.select(
          col("query_id").as("r_cand"), col("cand_id").as("r_query"),
          col("rnk").as("rank_ba"))
        top.join(rev,
          col("query_id") === col("r_query") && col("cand_id") === col("r_cand"))
          .where(col("query_id") < col("cand_id"))
          .select(col("query_id").as("vec_a"), col("cand_id").as("vec_b"),
            col("cos_sim"), col("rnk").as("rank_ab"), col("rank_ba"))
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${cosDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id <> c.vec_id),
        topk AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, cand_id) AS rnk
            FROM sims) t
          WHERE rnk <= 3)
        SELECT a.query_id AS vec_a, a.cand_id AS vec_b, a.cos_sim,
               a.rnk AS rank_ab, b.rnk AS rank_ba
        FROM topk a JOIN topk b
          ON a.query_id = b.cand_id AND a.cand_id = b.query_id
         AND a.query_id < a.cand_id""")),

    // ---- Rocchio pseudo-relevance feedback: first-pass top-3 per
    // query, centroid of those neighbors (component-wise mean, folded
    // in RANK order so the double sum is fixed-order on both engines),
    // second-pass top-5 against the centroid. The centroid table is
    // query-bounded; only the two scoring passes touch the corpus.
    QueryDef(
      "q211_rocchio_rerank",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings")).select("vec_id", "vec")
        val queries = emb.filter(col("vec_id") < 10)
        val top = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec", k = 3)
        val cent = top
          .join(emb.select(col("vec_id").as("cand_id"), col("vec").as("__nv")),
            "cand_id")
          .groupBy("query_id")
          .agg(sort_array(collect_list(struct(col("rnk"), col("__nv"))))
            .as("__ranked"))
          .withColumn("__cvec", expr(
            s"""transform(
               |  aggregate(transform(__ranked, r1 -> r1.__nv),
               |    array_repeat(0D, $DIM),
               |    (acc2, v2) -> zip_with(acc2, v2, (a3, b3) -> a3 + b3)),
               |  s4 -> s4 / 3.0D)""".stripMargin))
          .select(col("query_id"), col("__cvec"))
        val rescored = broadcast(cent)
          .join(emb.select(col("vec_id").as("cand_id"), col("vec").as("__cv")),
            col("query_id") =!= col("cand_id"))
          .withColumn("cos_sim",
            round(expr(cosTagged("__cvec", "__cv", "5")), 4))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("cand_id").asc)
        rescored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select("query_id", "cand_id", "cos_sim", "rnk")
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${cosDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        top3 AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, cand_id) AS rnk
            FROM sims) t
          WHERE rnk <= 3),
        cent AS (
          SELECT query_id,
                 list_transform(range(1, ${DIM + 1}),
                   d -> ((l[1][d] + l[2][d]) + l[3][d]) / 3.0) AS cvec
          FROM (SELECT query_id, list(e.vec ORDER BY t.rnk) AS l
                FROM top3 t JOIN emb e ON t.cand_id = e.vec_id
                GROUP BY query_id)),
        rescored AS (
          SELECT ct.query_id, c.vec_id AS cand_id,
                 round(${cosDuck("ct.cvec", "c.vec")}, 4) AS cos_sim
          FROM cent ct JOIN emb c ON ct.query_id <> c.vec_id)
        SELECT query_id, cand_id, cos_sim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, cand_id) AS rnk
              FROM rescored) t
        WHERE rnk <= 5""")),

    // ---- kNN label audit: majority vote of the top-3 neighbors'
    // labels (tie → smallest winning label, deterministic), scored
    // against each vector's own label and rolled up per true label —
    // the label-noise table ("which classes' neighborhoods disagree
    // with their labels"). Vote arithmetic runs on the 3N top-k rows.
    QueryDef(
      "q212_knn_label_audit",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
        val labels = Tables(s, d, "embeddings").select(col("vec_id"), col("label"))
        // SCALE-DISPATCHED by corpus size (see q210): exact below the
        // brute limit — the harness regime, oracle unchanged — IVF above.
        val top = Similarity.autoTopK(emb, "vec_id", "vec", lit(true), k = 3)
        val votes = top
          .join(labels.select(col("vec_id").as("cand_id"),
            col("label").as("n_label")), "cand_id")
          .groupBy(col("query_id"), col("n_label"))
          .agg(count(lit(1)).as("v"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("query_id")
          .orderBy(col("v").desc, col("n_label").asc)
        val pred = votes.withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("query_id"), col("n_label").as("pred"))
        pred
          .join(labels.select(col("vec_id").as("query_id"), col("label")),
            "query_id")
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("pred") === col("label"), 1L).otherwise(0L))
              .as("n_correct"))
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${cosDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id <> c.vec_id),
        topk AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, cand_id) AS rnk
            FROM sims) t
          WHERE rnk <= 3),
        votes AS (
          SELECT t.query_id, e.label AS n_label, count(*) AS v
          FROM topk t JOIN embeddings e ON t.cand_id = e.vec_id
          GROUP BY 1, 2),
        pred AS (
          SELECT query_id, n_label AS pred FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, n_label) AS r
            FROM votes) t
          WHERE r = 1)
        SELECT e.label, count(*) AS n,
               CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct
        FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
        GROUP BY e.label""")),
  )
}
