package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.VectorOps

/** Seventy-fifth wave — filtered vector search, bucket pruning, and
  * lambda-architecture reconciliation:
  *
  *  - q391: FILTERED kNN, pre- vs post-filter — the central design
  *    question of predicate + vector search. Pre-filter ranks only
  *    label-matching candidates (always fills k); post-filter takes
  *    the global top-20 THEN applies the predicate (may underfill,
  *    and its survivors are only the matches that happened to rank
  *    globally). Both strategies are exact rankings here, so the
  *    fill/recall gap is a pure property of the data and both engines
  *    compute it bit-identically — the measured argument for why an
  *    ANN index at 100 TB needs predicate-aware retrieval (IVF with
  *    per-label lists or oversampled post-filtering).
  *  - q392: bucket pruning — a point/IN predicate on the bucketing
  *    key reads only the matching bucket FILES (spec pins
  *    `SelectedBucketsCount`). The scan-avoidance sibling of q375's
  *    dynamic partition pruning, at file granularity.
  *  - q393: lambda reconciliation — the batch layer aggregates events
  *    before the cutoff from the warehouse; the speed layer aggregates
  *    the tail through Structured Streaming state; serving merges the
  *    two. The oracle is the batch recomputation over ALL data — the
  *    lambda architecture's defining invariant (speed + batch ≡
  *    batch-over-everything).
  */
object Training75 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q391_filtered_knn",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val emb = Tables(s, d, "embeddings")
          .withColumn("vec", expr("transform(embedding, x -> cast(x as double))"))
          .select("vec_id", "label", "vec")
        val q = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
          .select(col("vec_id").as("query_id"), col("label").as("ql"),
            col("vec").as("qv"))
        val sims = broadcast(q).join(
            emb.select(col("vec_id").as("cand_id"),
              col("label").as("cl"), col("vec").as("cv")),
            col("query_id") =!= col("cand_id"))
          .withColumn("cos_sim", round(expr("graft_cosine(qv, cv)"), 4))
          .select("query_id", "ql", "cand_id", "cl", "cos_sim")
          .localCheckpoint() // both strategies rank the same sims
        val wAll = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("cand_id"))
        val pre = sims.filter(col("cl") === col("ql"))
          .withColumn("rnk", row_number().over(wAll))
          .filter(col("rnk") <= 5)
          .select("query_id", "cand_id")
        val post = sims
          .withColumn("grnk", row_number().over(wAll))
          .filter(col("grnk") <= 20)
          .filter(col("cl") === col("ql"))
          .withColumn("rnk", row_number().over(wAll))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("cand_id").as("post_id"))
        val perQuery = pre
          .join(post, pre("query_id") === post("query_id") &&
            pre("cand_id") === post("post_id"), "left")
          .groupBy(pre("query_id"))
          .agg(count(lit(1)).as("pre_found"),
            sum(when(col("post_id").isNotNull, 1L).otherwise(0L))
              .as("overlap"))
        val postFill = post.groupBy("query_id")
          .agg(count(lit(1)).as("post_found"))
        perQuery.join(postFill, Seq("query_id"), "left")
          .na.fill(0L, Seq("post_found"))
          .agg(count(lit(1)).as("n_queries"),
            sum("pre_found").as("pre_found"),
            sum("post_found").as("post_found"),
            sum("overlap").as("overlap"))
          .selectExpr("n_queries", "pre_found", "post_found", "overlap",
            "(1000000 * overlap) div pre_found AS recall_ppm",
            "(1000000 * post_found) div (5 * n_queries) AS fill_ppm")
      },
      Some {
        val cos = VectorOps.cosineDuck("q.vec", "c.vec")
        s"""
        WITH emb AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS ql, vec FROM emb
              WHERE vec_id % 100 = 0),
        sims AS MATERIALIZED (
          SELECT q.query_id, q.ql, c.vec_id AS cand_id, c.label AS cl,
                 round($cos, 4) AS cos_sim
          FROM q, emb c WHERE c.vec_id != q.query_id),
        pre AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, cand_id) AS rnk
            FROM sims WHERE cl = ql) x WHERE rnk <= 5),
        post AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id, cl, ql,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, cand_id) AS grnk
            FROM sims) x
          WHERE grnk <= 20 AND cl = ql
          QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY grnk) <= 5),
        per AS (
          SELECT pre.query_id,
                 count(*) AS pre_found,
                 sum(CASE WHEN post.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS overlap
          FROM pre LEFT JOIN post
            ON pre.query_id = post.query_id AND pre.cand_id = post.cand_id
          GROUP BY 1),
        pf AS (SELECT query_id, count(*) AS post_found FROM post GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(pre_found) AS BIGINT) AS pre_found,
               CAST(coalesce(sum(post_found), 0) AS BIGINT) AS post_found,
               CAST(sum(overlap) AS BIGINT) AS overlap,
               CAST((1000000 * sum(overlap)) // sum(pre_found) AS BIGINT)
                 AS recall_ppm,
               CAST((1000000 * coalesce(sum(post_found), 0))
                 // (5 * count(*)) AS BIGINT) AS fill_ppm
        FROM per LEFT JOIN pf USING (query_id)"""
      }),

    // ---- bucket pruning: lineitem bucketed 16-ways by l_orderkey; an
    // IN predicate on the bucketing key scans only the matching bucket
    // files. Census oracle; Training75Spec pins SelectedBucketsCount.
    QueryDef(
      "q392_bucket_pruning",
      (s, d) => {
        val hex = Integer.toHexString(d.hashCode)
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), s"graft_bprune_$hex").toString
        val table = s"graft_bp_li_$hex"
        if (!s.catalog.tableExists(table)) {
          Tables(s, d, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .write.mode("overwrite").option("path", s"$root/li")
            .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(table)
        }
        s.table(table)
          .filter(col("l_orderkey").isin(7L, 19L, 23L))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
          .orderBy("l_orderkey")
      },
      Some("""
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem WHERE l_orderkey IN (7, 19, 23)
        GROUP BY 1 ORDER BY l_orderkey""")),

    // ---- lambda: batch layer = events with day ≤ 15 (warehouse agg);
    // speed layer = the tail streamed file-by-file through a stateful
    // aggregation (update-mode memory sink — the "serving cache");
    // serving = merge. The census equals one batch pass over all data.
    QueryDef(
      "q393_lambda_reconciliation",
      (s, d) => {
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_lambda_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(stage))
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$stage/tail"))
        val ev = Tables(s, d, "events").selectExpr("event_type",
          "CAST(round(value * 100, 0) AS BIGINT) AS cents",
          "to_date(ts) AS day")
        val batch = ev.filter(col("day") <= "2024-01-15")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        ev.filter(col("day") > "2024-01-15")
          .select("event_type", "cents")
          .repartition(2).write.mode("overwrite").parquet(s"$stage/tail")
        val tailSchema = s.read.parquet(s"$stage/tail").schema
        val q = s.readStream.schema(tailSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$stage/tail")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .writeStream.outputMode("complete").format("memory")
          .queryName("graft_speed_layer").start()
        try q.processAllAvailable() finally q.stop()
        val speed = s.table("graft_speed_layer")
        batch.unionByName(speed)
          .groupBy("event_type")
          .agg(sum("n").as("n"), sum("cents").as("sum_cents"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events GROUP BY 1 ORDER BY event_type""")),
  )
}
