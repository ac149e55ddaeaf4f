package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}
import graft.operators.TextOps.{hash60Duck, hash60Spark}
import graft.operators.VectorOps.{cosineDuck, lshBucketDuck, lshBucketSpark}

/** Fortieth wave — index tuning, behavioral information, SQL surface,
  * CV hygiene:
  *
  *  - q286: multiprobe LSH — probing the Hamming-1 neighbor buckets
  *    lifts recall at the same table count; the query declares BOTH
  *    single-probe and multiprobe recall so the lift is hash-pinned.
  *  - q287: Markov entropy rate — how predictable the event stream is
  *    (the information-theoretic companion to q283's absorption).
  *  - q288: GROUP BY ALL / ORDER BY ALL — the Spark 4 SQL shorthand
  *    surface.
  *  - q289: stratified k-fold assignment — per-label balanced CV
  *    folds by hash rank (the stratified sibling of q113's plain
  *    hash split).
  */
object Training40 {
  val defs: Seq[QueryDef] = Seq(

    // ---- multiprobe LSH recall: same two 4-plane tables as q50, but
    // each query ALSO probes the 4 Hamming-1 neighbor buckets per
    // table (flip one hyperplane bit) — the classic recall lever that
    // costs probes instead of extra tables. The declared row carries
    // single-probe AND multiprobe recall@3 against the q49 truth, so
    // the lift is itself hash-pinned. Scale shape: probes explode 5
    // literal bucket ids per query (bounded query set), candidates by
    // equi-join on the bucket key, exact re-rank on the candidates.
    QueryDef(
      "q286_multiprobe_recall",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val bucketed = emb
          .withColumn("b0", expr(lshBucketSpark("vec", 64, 4, 0)))
          .withColumn("b1", expr(lshBucketSpark("vec", 64, 4, 4)))
          .localCheckpoint(true) // queries + candidates + re-rank
        val truth = {
          val q = bucketed.filter(col("vec_id") < 20)
            .select(col("vec_id").as("query_id"), col("vec").as("__qv"))
          val c = bucketed.select(col("vec_id").as("cand_id"), col("vec").as("__cv"))
          val sims = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
            .withColumn("cos_sim", round(expr("graft_cosine(__qv, __cv)"), 4))
          val w = Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("cand_id").asc)
          sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
            .select("query_id", "cand_id")
        }
        def annHits(probes: Int): DataFrame = {
          val probeExpr =
            if (probes == 1) "array(b)" else "array(b, b ^ 1, b ^ 2, b ^ 4, b ^ 8)"
          val cands = Seq(("b0", 0), ("b1", 1)).map { case (bc, _) =>
            val q = bucketed.filter(col("vec_id") < 20)
              .select(col("vec_id").as("query_id"), col(bc).as("b"))
              .select(col("query_id"), explode(expr(probeExpr)).as("bucket"))
            val c = bucketed.select(col("vec_id").as("cand_id"), col(bc).as("bucket"))
            q.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
              .select("query_id", "cand_id")
          }.reduce(_ unionByName _).distinct()
          val sims = cands
            .join(broadcast(bucketed.select(col("vec_id").as("query_id"),
              col("vec").as("__qv"))), Seq("query_id"))
            .join(bucketed.select(col("vec_id").as("cand_id"),
              col("vec").as("__cv")), Seq("cand_id"))
            .withColumn("cos_sim", round(expr("graft_cosine(__qv, __cv)"), 4))
          val w = Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("cand_id").asc)
          sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
            .select("query_id", "cand_id")
            .join(truth, Seq("query_id", "cand_id"), "left_semi")
            .agg(count(lit(1)).as(s"hits"))
        }
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        broadcast(nT)
          .crossJoin(broadcast(annHits(1).withColumnRenamed("hits", "hits_1probe")))
          .crossJoin(broadcast(annHits(5).withColumnRenamed("hits", "hits_multi")))
          .select(col("n_truth"), col("hits_1probe"),
            expr(halfUpSpark("1000000 * hits_1probe", "n_truth")).as("recall_1probe_ppm"),
            col("hits_multi"),
            expr(halfUpSpark("1000000 * hits_multi", "n_truth")).as("recall_multi_ppm"))
      },
      Some {
        def annCte(name: String, probeList: String) = s"""
        ${name}_cand AS (
          SELECT DISTINCT q.query_id, c.vec_id AS cand_id
          FROM (SELECT vec_id AS query_id, unnest($probeList) AS bucket, 0 AS tb
                FROM bucketed WHERE vec_id < 20
                UNION ALL
                SELECT vec_id, unnest(${probeList.replace("b0", "b1")}), 1
                FROM bucketed WHERE vec_id < 20) q
          JOIN (SELECT vec_id, b0 AS bucket, 0 AS tb FROM bucketed
                UNION ALL SELECT vec_id, b1, 1 FROM bucketed) c
            ON c.bucket = q.bucket AND c.tb = q.tb AND c.vec_id <> q.query_id),
        ${name} AS (
          SELECT query_id, cand_id FROM (
            SELECT s.query_id, s.cand_id,
                   row_number() OVER (PARTITION BY s.query_id
                                      ORDER BY s.cos_sim DESC, s.cand_id) AS rnk
            FROM (SELECT x.query_id, x.cand_id,
                         round(${cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
                  FROM ${name}_cand x
                  JOIN emb q ON q.vec_id = x.query_id
                  JOIN emb c ON c.vec_id = x.cand_id) s) t
          WHERE rnk <= 3),
        ${name}_h AS (
          SELECT count(*) AS h FROM truth JOIN $name USING (query_id, cand_id))"""
        s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        bucketed AS (
          SELECT vec_id, vec,
                 ${lshBucketDuck("vec", 64, 4, 0)} AS b0,
                 ${lshBucketDuck("vec", 64, 4, 4)} AS b1
          FROM emb),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
        truth AS (
          SELECT query_id, cand_id
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos_sim DESC, cand_id) AS rnk
                FROM sims) t
          WHERE rnk <= 3),
        ${annCte("one", "[b0]")},
        ${annCte("multi", "[b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]")},
        nt AS (SELECT count(*) AS n_truth FROM truth)
        SELECT n_truth,
               one_h.h AS hits_1probe,
               ${halfUpDuck("1000000 * one_h.h", "n_truth")} AS recall_1probe_ppm,
               multi_h.h AS hits_multi,
               ${halfUpDuck("1000000 * multi_h.h", "n_truth")} AS recall_multi_ppm
        FROM nt, one_h, multi_h"""
      },
    ),

    // ---- Markov entropy rate of the event stream: from the q283
    // transition counts, H = −Σ_s Σ_t c_st·ln(c_st/m_s) / N micro-
    // nats — the predictability of the NEXT event given the current
    // one (uniform over 5 types would be ln 5 ≈ 1.609e6). Declared
    // per-state conditional entropies + the overall rate, all exact
    // integers via lnMicro of exact count ratios. One keyed window
    // pass; everything after runs on the 5×5 dictionary.
    QueryDef(
      "q287_markov_entropy_rate",
      (s, d) => {
        val ln = "CAST(round(ln(%s) * 1000000) AS BIGINT)"
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
        val trans = ev
          .withColumn("nxt", lead("event_type", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("state"), col("nxt"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // 5x5 dictionary
        val m = trans.groupBy("state").agg(sum("c").as("ms"))
        val perState = trans.join(broadcast(m), Seq("state"))
          .withColumn("term",
            col("c") * expr(ln.format("CAST(c AS DOUBLE) / CAST(ms AS DOUBLE)")))
          .groupBy("state")
          .agg(max("ms").as("n_out"), sum("term").as("tsum"))
          .select(col("state"), col("n_out"),
            expr(halfUpSpark("-tsum", "n_out")).as("h_state_micro"))
        val overall = perState.agg(
          expr(halfUpSpark("sum(n_out * h_state_micro)", "sum(n_out)"))
            .as("entropy_rate_micro"))
        perState.crossJoin(broadcast(overall)).orderBy("state")
      },
      Some {
        val ln = "CAST(round(ln(%s) * 1000000) AS BIGINT)"
        s"""
        WITH r AS (
          SELECT event_type,
                 lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                        ORDER BY ts, event_id) AS nxt
          FROM events),
        trans AS (
          SELECT event_type AS state, nxt, count(*) AS c
          FROM r WHERE nxt IS NOT NULL GROUP BY 1, 2),
        m AS (SELECT state, CAST(sum(c) AS BIGINT) AS ms FROM trans GROUP BY 1),
        ps AS (
          SELECT state, max(ms) AS n_out,
                 CAST(sum(c * ${ln.format("CAST(c AS DOUBLE) / CAST(ms AS DOUBLE)")}) AS BIGINT) AS tsum
          FROM trans JOIN m USING (state) GROUP BY 1),
        ps2 AS (
          SELECT state, n_out, ${halfUpDuck("-tsum", "n_out")} AS h_state_micro
          FROM ps),
        ov AS (
          SELECT ${halfUpDuck(
            "CAST(sum(n_out * h_state_micro) AS BIGINT)",
            "CAST(sum(n_out) AS BIGINT)")} AS entropy_rate_micro
          FROM ps2)
        SELECT state, n_out, h_state_micro, entropy_rate_micro
        FROM ps2, ov ORDER BY state"""
      },
    ),

    // ---- GROUP BY ALL / ORDER BY ALL: the Spark 4 shorthand that
    // groups by every non-aggregate select item — declared through
    // spark.sql (DuckDB pioneered the same syntax, so the oracle uses
    // it verbatim). Exact integer cents keep the hash stable.
    QueryDef(
      "q288_group_by_all",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_li_gba")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
                 count(*) AS n,
                 CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
          FROM graft_li_gba
          GROUP BY ALL
          ORDER BY ALL""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM lineitem
        GROUP BY ALL
        ORDER BY ALL"""),
    ),

    // ---- stratified k-fold: within each label, rank vectors by key
    // hash and deal them round-robin into 5 folds — per-label fold
    // sizes differ by at most 1 BY CONSTRUCTION (the stratified
    // sibling of q113's plain hash split; fold membership is a pure
    // function of the key set, stable under growth of other labels).
    // One label-keyed rank window, one keyed count.
    QueryDef(
      "q289_stratified_kfold",
      (s, d) =>
        Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("label")
              .orderBy(expr(hash60Spark("concat('kf:', vec_id)")), col("vec_id"))))
          .withColumn("fold", pmod(col("rk") - 1, lit(5)).cast("long"))
          .groupBy("fold", "label")
          .agg(count(lit(1)).as("n"))
          .orderBy("fold", "label"),
      Some(s"""
        WITH r AS (
          SELECT vec_id, label,
                 row_number() OVER (PARTITION BY label
                   ORDER BY ${hash60Duck("'kf:' || vec_id")}, vec_id) AS rk
          FROM embeddings)
        SELECT (rk - 1) % 5 AS fold, label, count(*) AS n
        FROM r GROUP BY 1, 2 ORDER BY fold, label"""),
    ),
  )
}
