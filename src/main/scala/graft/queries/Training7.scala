package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.embDouble
import graft.operators.{Similarity, VectorOps}

/** Seventh wave: retrieval fusion and the remaining drift / contrastive /
  * corpus-statistics signals.
  *
  *  - q147 fuses a lexical index and a vector index with reciprocal-rank
  *    fusion — the standard hybrid-retrieval combiner for RAG serving.
  *  - q148 is the Population Stability Index, the categorical-bin
  *    sibling of q146's KS statistic (the two are the canonical drift
  *    pair: KS for the sup-norm, PSI for the information divergence).
  *  - q149 mines hard negatives for contrastive training: nearest
  *    neighbors under a DIFFERENT label, the batch that actually moves
  *    an embedding model.
  *  - q150 scores word co-occurrence with PMI over a capped vocabulary —
  *    the classic collocation statistic, with the vocab cap as the
  *    fan-out bound at scale.
  *
  * Determinism follows the established recipes: ranks via row_number
  * with total tie-breaks, floats rounded at source (cosine to 4 dp,
  * ln to micro-nats on exact-integer ratios), RRF/PSI arithmetic in
  * scaled integers with truncating division identical across engines
  * (Spark `div` and DuckDB `//` both truncate toward zero).
  */
object Training7 {
  val defs: Seq[QueryDef] = Seq(

    // ---- reciprocal-rank fusion of a lexical and a vector retrieval
    // list (k=60, the canonical constant). Each side produces a top-100
    // per query: lexical = distinct-word overlap with the query doc,
    // vector = exact cosine (both deterministic, keyed windows). The
    // fusion join is tiny by construction — each list is rank-truncated
    // BEFORE the full-outer join, so the fused relation is O(queries ×
    // 200) regardless of corpus size; at 100 TB the lists come from the
    // inverted index / ANN path and this query is unchanged downstream
    // of them. A doc missing from one list contributes 0 from that side
    // (the standard RRF convention).
    QueryDef(
      "q147_rrf_fusion",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("words"))
        val qdocs = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("words").as("qwords"))
        val lex = broadcast(qdocs).join(docs, col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id"),
            size(array_intersect(col("qwords"), col("words"))).as("lex"))
          .filter(col("lex") > 0)
        val wl = Window.partitionBy("query_id")
          .orderBy(col("lex").desc, col("doc_id").asc)
        val lexRank = lex
          .withColumn("lex_rank", row_number().over(wl).cast("long"))
          .filter(col("lex_rank") <= 100)
          .select("query_id", "doc_id", "lex_rank")

        val emb = embDouble(Tables(s, d, "embeddings"))
        val qv = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val vec = broadcast(qv).join(emb, col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("doc_id"),
            round(expr("graft_cosine(qv, vec)"), 4).as("cs"))
        val wv = Window.partitionBy("query_id")
          .orderBy(col("cs").desc, col("doc_id").asc)
        val vecRank = vec
          .withColumn("vec_rank", row_number().over(wv).cast("long"))
          .filter(col("vec_rank") <= 100)
          .select("query_id", "doc_id", "vec_rank")

        val fused = lexRank.join(vecRank, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("1000000L div (60 + lex_rank)"), lit(0L)) +
              coalesce(expr("1000000L div (60 + vec_rank)"), lit(0L)))
        val wf = Window.partitionBy("query_id")
          .orderBy(col("rrf_micro").desc, col("doc_id").asc)
        fused.withColumn("fused_rank", row_number().over(wf).cast("long"))
          .filter(col("fused_rank") <= 5)
          .select("query_id", "doc_id", "lex_rank", "vec_rank",
            "rrf_micro", "fused_rank")
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        q AS (
          SELECT doc_id AS query_id, words AS qwords FROM docs WHERE doc_id < 3),
        lex AS (
          SELECT query_id, d.doc_id,
                 len(list_intersect(qwords, d.words)) AS lex
          FROM q JOIN docs d ON d.doc_id <> q.query_id
          WHERE len(list_intersect(qwords, d.words)) > 0),
        lexr AS (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY lex DESC, doc_id) AS lex_rank
          FROM lex QUALIFY lex_rank <= 100),
        emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        qv AS (
          SELECT vec_id AS query_id, vec AS qv FROM emb WHERE vec_id < 3),
        vs AS (
          SELECT query_id, e.vec_id AS doc_id,
                 round(${VectorOps.cosineDuck("qv", "e.vec")}, 4) AS cs
          FROM qv JOIN emb e ON e.vec_id <> qv.query_id),
        vr AS (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, doc_id) AS vec_rank
          FROM vs QUALIFY vec_rank <= 100),
        f AS (
          SELECT coalesce(l.query_id, v.query_id) AS query_id,
                 coalesce(l.doc_id, v.doc_id) AS doc_id,
                 l.lex_rank, v.vec_rank,
                 coalesce(1000000 // (60 + l.lex_rank), 0) +
                 coalesce(1000000 // (60 + v.vec_rank), 0) AS rrf_micro
          FROM lexr l FULL OUTER JOIN vr v
            ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
        SELECT query_id, doc_id, lex_rank, vec_rank, rrf_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_micro DESC, doc_id) AS fused_rank
        FROM f QUALIFY fused_rank <= 5""")),

    // ---- Population Stability Index between the R and A return-flag
    // populations of l_extendedprice, binned by the R side's deciles
    // (PSI convention: bins come from the REFERENCE distribution; q146's
    // KS uses combined cutpoints — that difference is the point of
    // having both). Two data passes total: the decile agg on R and one
    // bucket fold; everything after operates on the 10-row bucket table.
    // Exact-integer discipline: per-bin term = (ca·nr − cr·na) ·
    // round(ln((ca·nr)/(cr·na))·1e6) with products in DECIMAL(38,0)/
    // HUGEINT, so psi_ppm = Σterm / (nr·na) via half-up integer division
    // (every term ≥ 0 since (p−q) and ln(p/q) share sign).
    QueryDef(
      "q148_psi_drift",
      (s, d) => {
        val qs = (1 to 9).map(i => i / 10.0).mkString(", ")
        val dec = "CAST(%s AS DECIMAL(38,0))"
        val v = Tables(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
        val b = v.filter(col("f") === "R")
          .agg(expr(s"transform(percentile(x, array($qs)), q -> round(q, 6))").as("bs"))
        val c = v.crossJoin(broadcast(b))
          .select(col("f"),
            expr("aggregate(bs, 0, (acc, e) -> acc + IF(x > e, 1, 0))").as("bucket"))
          .groupBy("bucket")
          .agg(
            sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"),
            sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"))
        val totals = c.agg(sum("cr").as("nr"), sum("ca").as("na"))
        c.crossJoin(broadcast(totals))
          .select(col("nr"), col("na"),
            expr(s"""CASE WHEN cr = 0 OR ca = 0 THEN ${dec.format("0")}
                     ELSE (${dec.format("ca")} * nr - ${dec.format("cr")} * na) *
                          CAST(round(ln(CAST(${dec.format("ca")} * nr AS DOUBLE) /
                                        CAST(${dec.format("cr")} * na AS DOUBLE)) * 1000000)
                               AS BIGINT)
                     END""").as("term"))
          .groupBy("nr", "na")
          .agg(sum("term").as("ts"))
          .select(col("nr").as("n_r"), col("na").as("n_a"),
            expr(s"""CAST((2 * ts + ${dec.format("nr")} * na)
                     div (2 * ${dec.format("nr")} * na) AS BIGINT)""").as("psi_ppm"))
      },
      Some({
        val qs = (1 to 9).map(i => i / 10.0).mkString(", ")
        s"""
        WITH v AS (
          SELECT l_returnflag AS f, l_extendedprice AS x FROM lineitem
          WHERE l_returnflag IN ('R', 'A')),
        b AS (
          SELECT list_transform(quantile_cont(x, [$qs]), q -> round(q, 6)) AS bs
          FROM v WHERE f = 'R'),
        bk AS (
          SELECT f, len(list_filter(bs, e -> x > e)) AS bucket FROM v, b),
        c AS (
          SELECT bucket,
                 sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS cr,
                 sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS ca
          FROM bk GROUP BY 1),
        t AS (
          SELECT CAST(sum(cr) AS HUGEINT) AS nr, CAST(sum(ca) AS HUGEINT) AS na
          FROM c),
        terms AS (
          SELECT CASE WHEN cr = 0 OR ca = 0 THEN CAST(0 AS HUGEINT)
                 ELSE (CAST(ca AS HUGEINT) * nr - CAST(cr AS HUGEINT) * na) *
                      CAST(round(ln(CAST(CAST(ca AS HUGEINT) * nr AS DOUBLE) /
                                    CAST(CAST(cr AS HUGEINT) * na AS DOUBLE)) * 1000000)
                           AS BIGINT)
                 END AS term
          FROM c, t),
        s AS (SELECT sum(term) AS ts FROM terms)
        SELECT CAST(nr AS BIGINT) AS n_r, CAST(na AS BIGINT) AS n_a,
               CAST((2 * ts + nr * na) // (2 * nr * na) AS BIGINT) AS psi_ppm
        FROM s, t"""
      })),

    // ---- hard-negative mining: for each query vector, the top-3 most
    // cosine-similar vectors carrying a DIFFERENT label. Exact scoring
    // here (it is the oracle-able baseline); at corpus scale the
    // candidate set comes from the same LSH/IVF paths as q50/q63/q112 —
    // hardNegativesTopK only changes the contrast predicate, not the
    // candidate generation.
    QueryDef(
      "q149_hard_negatives",
      (s, d) => {
        val emb = embDouble(Tables(s, d, "embeddings"))
        Similarity.hardNegativesTopK(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "vec", "label", k = 3)
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 label
          FROM embeddings),
        sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                 round(${VectorOps.cosineDuck("q.vec", "c.vec")}, 4) AS cos_sim
          FROM emb q JOIN emb c
            ON q.vec_id < 10 AND q.vec_id <> c.vec_id AND q.label <> c.label)
        SELECT query_id, cand_id, cos_sim, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, cand_id) AS rnk
              FROM sims) t
        WHERE rnk <= 3""")),

    // ---- PMI collocations over a capped vocabulary: top-20 word pairs
    // by pointwise mutual information among pairs co-occurring in >= 5
    // docs. The vocabulary cap (top-30 by document frequency) is the
    // scale bound — per-doc pair fan-out is <= C(30,2) no matter how
    // long the tail vocabulary grows, and the df table that defines it
    // is a broadcast. ln runs once per surviving pair on an
    // exact-integer ratio, rounded to micro-nats at source.
    QueryDef(
      "q150_pmi_pairs",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val words = docs
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .filter(col("w") =!= "")
        val dfc = words.groupBy("w").agg(count(lit(1)).as("dfc"))
        val vocab = dfc.orderBy(col("dfc").desc, col("w").asc).limit(30)
        val wv = words.join(broadcast(vocab), "w")
        val nd = docs.agg(count(lit(1)).as("nd"))
        val pairs = wv.as("a")
          .join(wv.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
          .groupBy(col("a.w").as("w1"), col("b.w").as("w2"),
            col("a.dfc").as("c1"), col("b.dfc").as("c2"))
          .agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
        pairs.crossJoin(broadcast(nd))
          .select(col("w1"), col("w2"), col("c12"),
            expr("""CAST(round(ln((CAST(c12 AS DOUBLE) * CAST(nd AS DOUBLE)) /
                                  (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1000000)
                         AS BIGINT)""").as("pmi_micro"))
          .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)
          .limit(20)
      },
      Some("""
        WITH words AS (
          SELECT DISTINCT doc_id, w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> ''),
        dfc AS (SELECT w, count(*) AS dfc FROM words GROUP BY 1),
        vocab AS (SELECT w, dfc FROM dfc ORDER BY dfc DESC, w LIMIT 30),
        wv AS (SELECT doc_id, words.w, dfc FROM words JOIN vocab USING (w)),
        n AS (SELECT count(*) AS nd FROM documents),
        p AS (
          SELECT a.w AS w1, b.w AS w2, a.dfc AS c1, b.dfc AS c2,
                 count(*) AS c12
          FROM wv a JOIN wv b ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY 1, 2, 3, 4
          HAVING count(*) >= 5)
        SELECT w1, w2, c12,
               CAST(round(ln((CAST(c12 AS DOUBLE) * CAST(nd AS DOUBLE)) /
                             (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1000000)
                    AS BIGINT) AS pmi_micro
        FROM p, n
        ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""")),
  )
}
