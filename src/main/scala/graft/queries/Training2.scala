package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Dedup, DeterministicKMeans, Similarity}
import graft.operators.TextOps._
import graft.operators.VectorOps._

/** Second wave of training-data-preparation operators: semantic
  * deduplication over embeddings (SemDedup), TF-IDF term extraction,
  * the tokenizer-training bigram-count primitive, int8 embedding
  * quantization, and incremental (new-batch vs corpus) MinHash dedup.
  *
  * Cross-engine discipline as elsewhere in the catalog: iterative and
  * float-adjacent math runs in exact integers (micro-units, sign-split
  * half-up division) or is rounded once at the source (ln → 6 dp,
  * cosine → 4 dp), so every query here is driver-oracled.
  */
object Training2 {
  val defs: Seq[QueryDef] = Seq(

    // ---- SemDedup: k-means-bucketed semantic near-dup removal over the
    // embedding corpus (see Similarity.semanticDedup for the scale
    // story: k bounds the pair join at O(N²/k) across k independent key
    // groups). Oracled end-to-end — integer-exact k-means labels make
    // the iterative step replayable in SQL, and the cosine threshold is
    // 4-dp-rounded on both engines.
    QueryDef(
      "q100_semantic_dedup",
      (s, d) =>
        Similarity.semanticDedup(
          Tables(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 3, threshold = 0.35),
      Some {
        val ctes = DeterministicKMeans.assignmentsDuckCtes(
          "embeddings", "vec_id", "embedding", k = 8, iters = 3)
        s"""$ctes,
        emb AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings),
        j AS (
          SELECT a.cluster, e.vec_id, e.vec
          FROM assignF a JOIN emb e ON e.vec_id = a.id),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM j a JOIN j b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE round(${cosineDuck("a.vec", "b.vec")}, 4) >= 0.35)
        SELECT j.vec_id, j.cluster, (d.vec_id IS NULL) AS kept
        FROM j LEFT JOIN dropped d ON d.vec_id = j.vec_id"""
      }),

    // ---- per-document TF-IDF top terms (keyword extraction / corpus
    // indexing). tf and df are two co-keyed aggregations over the
    // exploded word stream (map-side combinable); N is one tiny global
    // aggregate broadcast back (q74's corpus-stats shape — the df join
    // is vocabulary-sized, so AQE broadcasts it); the top-3 window is
    // keyed by doc_id. idf = ln(N/df) is rounded to 6 dp at the source
    // (the q74 libm discipline), after which tf·idf is exact-rational.
    QueryDef(
      "q101_tfidf_topterms",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("idf", round(log(col("n").cast("double") / col("df")), 6))
          .withColumn("tfidf", round(col("tf") * col("idf"), 6))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("doc_id", "term", "tfidf", "rk")
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, term,
                 round(tf * round(ln(CAST(n AS DOUBLE) / df), 6), 6) AS tfidf
          FROM tf JOIN dfreq USING (term), n),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rk
          FROM scored)
        SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3""")),

    // ---- adjacent-pair counting — the inner loop of BPE tokenizer
    // training (most frequent symbol pair = next merge). Pure per-row
    // array expression (codegen, no shuffle) into one word-pair-keyed
    // aggregation; the global top-20 is TakeOrderedAndProject
    // (per-partition top-k merged at the driver, never a global sort).
    QueryDef(
      "q102_bigram_pairs",
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(expr(
            """CASE WHEN size(split(text, ' ')) >= 2 THEN
                 transform(sequence(1, size(split(text, ' ')) - 1),
                   i -> concat_ws(' ', element_at(split(text, ' '), i),
                                       element_at(split(text, ' '), i + 1)))
               ELSE cast(array() as array<string>) END""")).as("pair"))
          .groupBy("pair")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20),
      Some("""
        SELECT pair, count(*) AS n
        FROM (SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1])) AS pair
              FROM documents) p
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 20""")),

    // ---- symmetric int8 embedding quantization (the compression step
    // before shipping vectors to an ANN index): per-vector scale
    // m = max|round(x·10⁶)|, codes = halfUp(x6·127/m) — entirely 64-bit
    // integer arithmetic (VectorOps.int8CodesSpark), so the result is
    // bit-identical cross-engine with no float rounding question at
    // all. Per-row codegen expressions, zero shuffle.
    QueryDef(
      "q103_embedding_quantize",
      (s, d) =>
        Tables(s, d, "embeddings")
          .select(col("vec_id"), expr(microVecSpark("embedding")).as("__v6"))
          .withColumn("__m",
            greatest(expr("array_max(transform(__v6, x -> abs(x)))"), lit(1L)))
          .withColumn("__codes", expr(int8CodesSpark("__v6", "__m")))
          .select(
            col("vec_id"),
            col("__m").as("maxabs6"),
            expr("aggregate(__codes, 0L, (acc, c) -> acc + c)").as("code_sum"),
            expr("aggregate(__codes, 0L, (acc, c) -> acc + c * c)").as("code_sq_sum"),
            expr("array_min(__codes)").as("code_min"),
            expr("array_max(__codes)").as("code_max")),
      Some(s"""
        WITH ex AS (
          SELECT vec_id,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS x6
          FROM embeddings),
        m AS (SELECT vec_id, greatest(max(abs(x6)), 1) AS m FROM ex GROUP BY vec_id),
        c AS (
          SELECT e.vec_id, m.m, ${int8CodeDuck("e.x6", "m.m")} AS code
          FROM ex e JOIN m ON m.vec_id = e.vec_id)
        SELECT vec_id, max(m) AS maxabs6,
               CAST(sum(code) AS BIGINT) AS code_sum,
               CAST(sum(code * code) AS BIGINT) AS code_sq_sum,
               min(code) AS code_min, max(code) AS code_max
        FROM c GROUP BY vec_id"""),
    ),

    // ---- incremental dedup: flag documents of a NEW batch (source
    // 'src1' plays the incoming crawl) that are MinHash-band near-dup
    // candidates of the EXISTING corpus — the production shape for
    // continuous ingestion, where re-dedup-ing 100 TB per batch is not
    // an option. Both sides get band keys from the same per-row
    // expressions; the join is band-keyed, the batch side is small by
    // nature so AQE broadcasts it, and at full scale the corpus band
    // index is a bucketed table that never rescans (Sinks bucketing +
    // compactSnapshot maintain it).
    QueryDef(
      "q104_incremental_dedup",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        def stackedBands(f: DataFrame, as: String) =
          Dedup.minhashBands(f, "doc_id", "text")
            .select(col("doc_id").as(as),
              posexplode(array((0 until 4).map(i => col(s"band$i")): _*))
                .as(Seq("band_idx", "band_key")))
        val batch = stackedBands(docs.filter(col("source") === "src1"), "new_doc")
        val corpus = stackedBands(docs.filter(col("source") =!= "src1"), "corpus_doc")
        batch.join(corpus, Seq("band_idx", "band_key"))
          .groupBy("new_doc")
          .agg(
            countDistinct("corpus_doc").as("n_corpus_matches"),
            min("corpus_doc").as("first_match"))
      },
      Some(s"""
        WITH wh AS (SELECT doc_id, source, ${wordHashesDuck()} AS wh FROM documents),
        hashed AS (SELECT doc_id, source, ${ngramHashesDuck(3, "wh")} AS hh FROM wh),
        sig AS (
          SELECT doc_id, source,
                 ${(0 until 4).map(b => s"${bandDuck(b, 2, "hh")} AS band$b").mkString(",\n                 ")}
          FROM hashed),
        stacked AS (
          ${(0 until 4).map(b =>
        s"SELECT doc_id, source, $b AS band_idx, band$b AS band_key FROM sig")
        .mkString("\n          UNION ALL ")})
        SELECT n.doc_id AS new_doc,
               count(DISTINCT c.doc_id) AS n_corpus_matches,
               min(c.doc_id) AS first_match
        FROM stacked n JOIN stacked c
          ON n.band_idx = c.band_idx AND n.band_key = c.band_key
        WHERE n.source = 'src1' AND c.source <> 'src1'
        GROUP BY n.doc_id""")),
  )
}
