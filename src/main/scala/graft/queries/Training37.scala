package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}
import graft.operators.Similarity
import graft.operators.VectorOps.{cosineDuck, lshBucketDuck}

/** Thirty-seventh wave — coverage selection, ML-ops hygiene, causal
  * analytics, index evaluation:
  *
  *  - q274: greedy max-coverage corpus selection (the submodular
  *    2-approximation) — pick the k docs that jointly cover the most
  *    vocabulary, the diversity-maximizing selection next to q256's
  *    geometric k-center.
  *  - q275: point-in-time training features — features strictly
  *    before the cutoff, label strictly after (temporal leakage
  *    hygiene; the feature-store discipline q28's as-of join serves).
  *  - q276: difference-in-differences — the pre/post × treat/control
  *    causal contrast in exact micro integers.
  *  - q277: ANN recall@k evaluation — q50's LSH index scored against
  *    q49's brute-force ground truth, closing the index-quality loop
  *    (the vector sibling of q191's minhash precision/recall).
  */
object Training37 {
  val defs: Seq[QueryDef] = Seq(

    // ---- greedy max-coverage selection: 5 rounds of "pick the doc
    // with the most not-yet-covered word-3-grams" (ties to the
    // smaller doc_id) — the classic (1−1/e) submodular greedy, used
    // to select a small corpus that spans n-gram diversity (the
    // single-word universe is degenerate here: one doc covers the
    // whole 31-word vocabulary). Scale shape: each round is ONE keyed
    // count over the distinct (doc, shingle) table with the covered
    // set as a broadcast filter, finished by TakeOrdered(1); only the
    // chosen doc's shingle list reaches the driver (bounded by
    // document length — the DeterministicKMeans collect discipline).
    // At 100 TB the covered set rides a bloom filter instead of an
    // in-literal.
    QueryDef(
      "q274_greedy_set_cover",
      (s, d) => {
        val dw = Tables(s, d, "documents")
          .select(col("doc_id"), explode(expr(
            """CASE WHEN size(split(text, ' ')) >= 3 THEN
                 transform(sequence(3, size(split(text, ' '))),
                   i -> concat_ws(' ', element_at(split(text, ' '), i - 2),
                                       element_at(split(text, ' '), i - 1),
                                       element_at(split(text, ' '), i)))
               ELSE cast(array() as array<string>) END""")).as("word"))
          .distinct()
          .localCheckpoint(true) // read once per round
        var covered = Set.empty[String]
        var out = Vector.empty[(Long, Long, Long, Long)]
        val allDocs = dw.select("doc_id").distinct()
        for (round <- 1 to 5) {
          val uncov = if (covered.isEmpty) dw
            else dw.filter(!col("word").isInCollection(covered))
          // count over ALL docs (0 once a doc adds nothing) so the
          // selection stays total even after the vocabulary is covered
          val pick = allDocs
            .join(uncov.groupBy("doc_id").agg(count(lit(1)).as("nw")),
              Seq("doc_id"), "left")
            .withColumn("nw", coalesce(col("nw"), lit(0L)))
            .orderBy(col("nw").desc, col("doc_id").asc).limit(1)
            .collect().head
          val (docId, gain) = (pick.getLong(0), pick.getLong(1))
          val words = dw.filter(col("doc_id") === docId)
            .select("word").collect().map(_.getString(0)).toSet
          covered = covered ++ words
          out = out :+ ((round.toLong, docId, gain, covered.size.toLong))
        }
        import s.implicits._
        out.toDF("round", "doc_id", "new_words", "covered_total")
      },
      Some {
        val stages = (1 to 5).map { i =>
          val uncovered =
            if (i == 1) "dw"
            else s"(SELECT * FROM dw WHERE word NOT IN (SELECT word FROM cov${i - 1}))"
          val prevCov =
            if (i == 1) s"SELECT word FROM dw WHERE doc_id = (SELECT doc_id FROM p1)"
            else s"""SELECT word FROM cov${i - 1}
                     UNION SELECT word FROM dw WHERE doc_id = (SELECT doc_id FROM p$i)"""
          s"""p$i AS MATERIALIZED (
            SELECT ad.doc_id, coalesce(u.nw, 0) AS nw
            FROM (SELECT DISTINCT doc_id FROM dw) ad
            LEFT JOIN (SELECT doc_id, count(*) AS nw FROM $uncovered
                       GROUP BY 1) u USING (doc_id)
            ORDER BY nw DESC, ad.doc_id LIMIT 1),
          cov$i AS MATERIALIZED ($prevCov)"""
        }.mkString(",\n          ")
        val unions = (1 to 5).map(i =>
          s"""SELECT $i AS round, doc_id, nw AS new_words,
              (SELECT count(DISTINCT word) FROM cov$i) AS covered_total
              FROM p$i""").mkString("\n          UNION ALL ")
        s"""
        WITH dw AS MATERIALIZED (
          SELECT DISTINCT doc_id, word FROM (
            SELECT doc_id,
                   unnest(list_transform(range(3, len(string_split(text, ' ')) + 1),
                     i -> string_split(text, ' ')[i - 2] || ' ' ||
                          string_split(text, ' ')[i - 1] || ' ' ||
                          string_split(text, ' ')[i])) AS word
            FROM documents)),
          $stages
        SELECT CAST(round AS BIGINT) AS round, doc_id,
               CAST(new_words AS BIGINT) AS new_words,
               CAST(covered_total AS BIGINT) AS covered_total
        FROM ($unions) ORDER BY round"""
      },
    ),

    // ---- point-in-time training features: features aggregate ONLY
    // events strictly before the 2024-01-24 cutoff; the label is
    // activity strictly at-or-after it — the temporal-hygiene
    // construction that makes a training set leak-free (the batch
    // sibling of q28's as-of join, audited rather than assumed:
    // recency is measured TO the cutoff, never to a post-cutoff
    // event). One keyed pass per side, one keyed join.
    QueryDef(
      "q275_point_in_time_features",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        val cutoff = lit("2024-01-24").cast("date")
        val feats = ev.filter(col("day") < cutoff)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events_pre"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purchases_pre"),
            countDistinct("event_type").as("n_types_pre"),
            datediff(cutoff, max("day")).cast("long").as("recency_days"))
        val label = ev.filter(col("day") >= cutoff)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("label_purchase"))
        feats.join(label, Seq("user_id"), "left")
          .withColumn("label_purchase", coalesce(col("label_purchase"), lit(0L)))
          .orderBy("user_id")
          .limit(20)
      },
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
        feats AS (
          SELECT user_id,
                 count(*) AS n_events_pre,
                 CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS n_purchases_pre,
                 CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_pre,
                 CAST(DATE '2024-01-24' - max(day) AS BIGINT) AS recency_days
          FROM ev WHERE day < DATE '2024-01-24' GROUP BY 1),
        label AS (
          SELECT user_id,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS label_purchase
          FROM ev WHERE day >= DATE '2024-01-24' GROUP BY 1)
        SELECT f.user_id, n_events_pre, n_purchases_pre, n_types_pre,
               recency_days,
               CAST(coalesce(label_purchase, 0) AS BIGINT) AS label_purchase
        FROM feats f LEFT JOIN label USING (user_id)
        ORDER BY user_id LIMIT 20"""),
    ),

    // ---- difference-in-differences: treatment = users who hit an
    // 'error' in the PRE period (an exposure defined strictly
    // pre-treatment, the DiD hygiene), outcome = per-user purchase
    // value (micro) in each period; the causal contrast is
    // (T,post − T,pre) − (C,post − C,pre) over per-group half-up
    // means. Every user present in events contributes to its group
    // (zero outcomes included — dropping them would bias the means).
    // Scale shape: two keyed aggs + a 4-row group frame; the DiD is
    // dictionary arithmetic.
    QueryDef(
      "q276_diff_in_diff",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"),
            expr("CAST(round(value * 1000000) AS BIGINT)").as("v6"))
          .withColumn("period",
            when(col("day") < lit("2024-01-16").cast("date"), "pre").otherwise("post"))
        // >= 8 pre-period errors: splits users roughly in half at every
        // SF (a "treated = any error" rule is vacuous — every user
        // errors at least once in 15 days)
        val treat = ev
          .groupBy("user_id")
          .agg((sum(when(col("period") === "pre" && col("event_type") === "error", 1L)
            .otherwise(0L)) >= 8L).cast("int").cast("long").as("treated"))
        val y = ev.groupBy("user_id", "period")
          .agg(sum(when(col("event_type") === "purchase", col("v6"))
            .otherwise(0L)).as("y6"))
        val g = y.join(treat, Seq("user_id"))
          .groupBy("treated", "period")
          .agg(count(lit(1)).as("n_users"), sum("y6").as("sy6"))
          .withColumn("mean_y_micro", expr(halfUpSpark("sy6", "n_users")))
          .localCheckpoint(true) // 4-row group frame, read twice
        val did = g.agg(
          sum(when(col("treated") === 1 && col("period") === "post", col("mean_y_micro"))
            .when(col("treated") === 1 && col("period") === "pre", -col("mean_y_micro"))
            .when(col("treated") === 0 && col("period") === "post", -col("mean_y_micro"))
            .otherwise(col("mean_y_micro"))).as("did_micro"))
        g.select("treated", "period", "n_users", "mean_y_micro")
          .crossJoin(broadcast(did))
          .orderBy("treated", "period")
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                 CAST(round(value * 1000000) AS BIGINT) AS v6,
                 CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 'pre' ELSE 'post' END AS period
          FROM events),
        treat AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN period = 'pre' AND event_type = 'error'
                          THEN 1 ELSE 0 END) >= 8 AS BIGINT) AS treated
          FROM ev GROUP BY 1),
        y AS (
          SELECT user_id, period,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN v6 ELSE 0 END)
                      AS BIGINT) AS y6
          FROM ev GROUP BY 1, 2),
        g AS (
          SELECT treated, period, count(*) AS n_users,
                 ${halfUpDuck("CAST(sum(y6) AS BIGINT)", "count(*)")} AS mean_y_micro
          FROM y JOIN treat USING (user_id)
          GROUP BY 1, 2),
        did AS (
          SELECT CAST(sum(CASE
                   WHEN treated = 1 AND period = 'post' THEN mean_y_micro
                   WHEN treated = 1 AND period = 'pre' THEN -mean_y_micro
                   WHEN treated = 0 AND period = 'post' THEN -mean_y_micro
                   ELSE mean_y_micro END) AS BIGINT) AS did_micro
          FROM g)
        SELECT treated, period, n_users, mean_y_micro, did_micro
        FROM g, did ORDER BY treated, period"""),
    ),

    // ---- ANN recall@3 evaluation: q50's 2-table hyperplane-LSH index
    // answers the same 20 queries as q49's brute-force ground truth;
    // recall = |ANN∩truth| / |truth| in exact ppm. The index-quality
    // eval as a hash-pinned query (the vector-ANN sibling of q191's
    // minhash precision/recall) — drops in for any index the engine
    // declares (LSH q50, IVF q63, IVF-PQ q112). Scale shape: both
    // sides are the already-declared bounded-query-set paths; the
    // comparison is a top-k-sized join.
    QueryDef(
      "q277_ann_recall_eval",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
        val truth = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "vec", k = 3)
          .select(col("query_id"), col("cand_id"))
        val ann = Similarity.annTopK(
          emb, "vec_id", "vec", 64,
          queryFilter = col("vec_id") < 20, k = 3,
          tables = 2, planesPerTable = 4)
          .select(col("query_id"), col("cand_id"))
        val joined = truth.join(ann, Seq("query_id", "cand_id"), "left_semi")
        val nT = truth.agg(count(lit(1)).as("n_truth"))
        val nH = joined.agg(count(lit(1)).as("n_hits"))
        broadcast(nT).crossJoin(broadcast(nH))
          .select(col("n_truth"), col("n_hits"),
            expr(halfUpSpark("1000000 * n_hits", "n_truth")).as("recall_ppm"))
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
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
        bucketed AS (
          SELECT vec_id, vec,
                 ${lshBucketDuck("vec", 64, 4, 0)} AS b0,
                 ${lshBucketDuck("vec", 64, 4, 4)} AS b1
          FROM emb),
        cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id
          FROM bucketed q JOIN bucketed c
            ON q.b0 = c.b0 AND q.vec_id < 20 AND q.vec_id <> c.vec_id
          UNION
          SELECT q.vec_id, c.vec_id
          FROM bucketed q JOIN bucketed c
            ON q.b1 = c.b1 AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
        annsims AS (
          SELECT cand.query_id, cand.cand_id,
                 round(${cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM cand
          JOIN emb q ON q.vec_id = cand.query_id
          JOIN emb c ON c.vec_id = cand.cand_id),
        ann AS (
          SELECT query_id, cand_id
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos_sim DESC, cand_id) AS rnk
                FROM annsims) t
          WHERE rnk <= 3),
        nt AS (SELECT count(*) AS n_truth FROM truth),
        nh AS (
          SELECT count(*) AS n_hits
          FROM truth JOIN ann USING (query_id, cand_id))
        SELECT n_truth, n_hits,
               ${halfUpDuck("1000000 * n_hits", "n_truth")} AS recall_ppm
        FROM nt, nh"""),
    ),
  )
}
