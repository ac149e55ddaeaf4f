package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.TextOps._

/** LLM-data-pipeline text operators over the documents table: quality
  * stats, language ID heuristics, token counting, fingerprinting, exact
  * dedup, MinHash-LSH and SimHash near-dup, n-gram Jaccard similarity.
  *
  * Everything except the pair-joins is a per-row expression (whole-stage
  * codegen, zero shuffle). The near-dup pair steps follow the standard
  * LSH shape: per-row signature → band key → shuffle only on band key →
  * candidate pairs. At 100 TB that is the only join that exists, and its
  * fan-in is bounded by band-bucket size, not corpus size.
  */
object Text {
  private val stopwords = Seq("the", "a")
  private val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // ---- quality scoring: length/word/stopword stats
    QueryDef(
      "q40_text_stats",
      (s, d) =>
        Tables(s, d, "documents")
          .withColumn("n_words", expr("size(split(text, ' '))"))
          .withColumn("stop_hits",
            expr(s"size(filter(split(text, ' '), w -> w IN ($stopListSql)))"))
          .select(
            col("doc_id"),
            col("n_words").cast("long").as("n_words"),
            (length(col("text")).cast("double") / col("n_words")).as("chars_per_word"),
            (col("stop_hits").cast("double") / col("n_words")).as("stopword_ratio"),
            round(
              least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.5 +
                (lit(1.0) - col("stop_hits").cast("double") / col("n_words")) * 0.5,
              6).as("quality_score")),
      Some(s"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_word,
               CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopListSql))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stopword_ratio,
               round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5 +
                     (1.0 - CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopListSql))) AS DOUBLE)
                            / len(string_split(text, ' '))) * 0.5, 6) AS quality_score
        FROM documents""")),

    // ---- language-ID heuristic: per-language marker-word hit counts +
    // deterministic argmax (ties resolve in fixed language order)
    QueryDef(
      "q41_lang_guess",
      (s, d) => {
        val markers = Seq(
          "en" -> Seq("the", "a", "and", "of"),
          "es" -> Seq("el", "los", "las", "una"),
          "de" -> Seq("der", "die", "und", "das"),
          "fr" -> Seq("les", "et", "dans", "une"))
        def hits(words: Seq[String]) = {
          val list = words.map(w => s"'$w'").mkString(", ")
          expr(s"cast(size(filter(split(text, ' '), w -> w IN ($list))) as bigint)")
        }
        val scored = markers.foldLeft(Tables(s, d, "documents")) {
          case (df, (l, ws)) => df.withColumn(s"${l}_score", hits(ws))
        }
        scored.select(
          col("doc_id"), col("lang"),
          col("en_score"), col("es_score"), col("de_score"), col("fr_score"),
          when(col("en_score") >= greatest(col("es_score"), col("de_score"), col("fr_score"))
            && col("en_score") >= 1, lit("en"))
            .when(col("es_score") >= greatest(col("de_score"), col("fr_score"))
              && col("es_score") >= 1, lit("es"))
            .when(col("de_score") >= col("fr_score") && col("de_score") >= 1, lit("de"))
            .when(col("fr_score") >= 1, lit("fr"))
            .otherwise(lit("unknown")).as("lang_guess"))
      },
      Some {
        def h(ws: Seq[String]) = {
          val list = ws.map(w => s"'$w'").mkString(", ")
          s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($list))) AS BIGINT)"
        }
        val en = h(Seq("the", "a", "and", "of"))
        val es = h(Seq("el", "los", "las", "una"))
        val de = h(Seq("der", "die", "und", "das"))
        val fr = h(Seq("les", "et", "dans", "une"))
        s"""
        WITH scored AS (
          SELECT doc_id, lang,
                 $en AS en_score, $es AS es_score, $de AS de_score, $fr AS fr_score
          FROM documents)
        SELECT doc_id, lang, en_score, es_score, de_score, fr_score,
               CASE WHEN en_score >= greatest(es_score, de_score, fr_score) AND en_score >= 1 THEN 'en'
                    WHEN es_score >= greatest(de_score, fr_score) AND es_score >= 1 THEN 'es'
                    WHEN de_score >= fr_score AND de_score >= 1 THEN 'de'
                    WHEN fr_score >= 1 THEN 'fr'
                    ELSE 'unknown' END AS lang_guess
        FROM scored"""
      }),

    // ---- token counting: whitespace + regex (BPE-ish greedy chunks)
    QueryDef(
      "q42_token_count",
      (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          expr("cast(size(split(text, ' ')) as bigint)").as("ws_tokens"),
          expr("cast(size(regexp_extract_all(text, '[a-z]+', 0)) as bigint)").as("alpha_tokens"),
          expr("cast(size(regexp_extract_all(text, '[a-z]{1,4}', 0)) as bigint)").as("bpe_ish_tokens")),
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS bpe_ish_tokens
        FROM documents""")),

    // ---- document fingerprints: exact hash + order-insensitive content hash
    QueryDef(
      "q43_fingerprint",
      (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          md5(col("text")).as("exact_md5"),
          expr(fingerprintSpark()).as("content_fp")),
      Some(s"""
        SELECT doc_id, md5(text) AS exact_md5,
               ${fingerprintDuck()} AS content_fp
        FROM documents""")),

    // ---- exact dedup: keep min doc_id per identical text
    QueryDef(
      "q44_dedup_exact",
      (s, d) =>
        graft.operators.Dedup.exactGroups(Tables(s, d, "documents"), "doc_id", "text"),
      Some("""
        SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)""")),

    // ---- MinHash signatures + LSH band keys (8 hashes, 4 bands of 2)
    QueryDef(
      "q45_minhash_bands",
      (s, d) =>
        graft.operators.Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text"),
      Some(s"""
        WITH wh AS (SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
        hashed AS (SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS hh FROM wh)
        SELECT doc_id,
               ${(0 until 4).map(b => s"${bandDuck(b, 2, "hh")} AS band$b").mkString(",\n               ")}
        FROM hashed""")),

    // ---- MinHash-LSH candidate pairs: docs sharing any band key
    QueryDef(
      "q46_minhash_pairs",
      (s, d) => {
        import graft.operators.Dedup
        Dedup.minhashCandidatePairs(
          Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text"), "doc_id")
          .withColumnRenamed("doc_id_a", "doc_a")
          .withColumnRenamed("doc_id_b", "doc_b")
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
        ok AS (SELECT band_idx, band_key FROM stacked
               GROUP BY 1, 2 HAVING count(*) <= 32),
        kept AS (SELECT s.* FROM stacked s JOIN ok USING (band_idx, band_key))
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id""")),

    // ---- word-3-gram Jaccard similarity of overlapping doc pairs.
    // Explode-join formulation with a hot-shingle document-frequency cap
    // (see Dedup.jaccardPairs): work scales with shingle co-occurrence
    // UNDER the cap, never with pairs² — the shape that survives a
    // power-law web corpus. The oracle applies the identical cap, so the
    // two sides agree at any cap value; at harness SFs no shingle
    // reaches the cap, so results equal the uncapped form.
    QueryDef(
      "q47_ngram_jaccard",
      (s, d) =>
        graft.operators.Dedup.jaccardPairs(
          Tables(s, d, "documents"), "doc_id", "text", dfCap = 64),
      Some(s"""
        WITH wh AS (
          SELECT doc_id, ${wordHashesDuck()} AS wh FROM documents),
        docs AS (
          SELECT doc_id, ${ngramHashesDuck(3, "wh")} AS ngrams FROM wh),
        ex0 AS (SELECT doc_id, unnest(ngrams) AS h FROM docs),
        hot AS (SELECT h FROM ex0 GROUP BY h HAVING count(*) > 64),
        ex AS (SELECT * FROM ex0 WHERE h NOT IN (SELECT h FROM hot)),
        sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id""")),

    // ---- SimHash (16-bit) near-dup signature
    QueryDef(
      "q48_simhash",
      (s, d) =>
        graft.operators.Dedup.simhash(Tables(s, d, "documents"), "doc_id", "text"),
      Some(s"""
        WITH h AS (SELECT doc_id, ${wordHashesDuck()} AS hs FROM documents)
        SELECT doc_id, ${simhashDuck("hs", 16)} AS simhash16
        FROM h""")),

    // ---- duplicate clusters: connected components over the MinHash-LSH
    // candidate-pair graph (min-label propagation, see
    // Dedup.connectedComponents), then every document mapped to its
    // cluster id (singletons cluster with themselves). The oracle walks
    // the same graph with a recursive CTE — min reachable id per node
    // is the component id.
    QueryDef(
      "q71_dedup_clusters",
      (s, d) => {
        import graft.operators.Dedup
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
        val comp = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
        docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")))
      },
      Some(s"""
        WITH RECURSIVE ${lshPairsCtesDuck("documents")}
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               count(*) OVER (PARTITION BY coalesce(c.cluster_id, d.doc_id))
                 AS cluster_size
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""")),

    // ---- the dedup pipeline composed end-to-end (exact → LSH pairs →
    // connected components → survivorship) as ONE call: Dedup.dedupe.
    // One row per surviving document with the number of raw documents
    // it represents; Σ n_represented = |corpus|. The oracle replays the
    // whole chain — exact grouping, band keys, capped buckets, the
    // recursive-CTE component walk, and the survivor roll-up.
    QueryDef(
      "q99_dedup_pipeline",
      (s, d) =>
        graft.operators.Dedup.dedupe(Tables(s, d, "documents"), "doc_id", "text"),
      Some(s"""
        WITH RECURSIVE exact AS (
          SELECT min(doc_id) AS doc_id, count(*) AS n_copies
          FROM documents GROUP BY md5(text)),
        k AS (SELECT d.doc_id, d.text, e.n_copies
              FROM documents d JOIN exact e ON d.doc_id = e.doc_id),
        ${lshPairsCtesDuck("k")}
        SELECT coalesce(c.cluster_id, k.doc_id) AS doc_id,
               CAST(sum(k.n_copies) AS BIGINT) AS n_represented
        FROM k LEFT JOIN comp c ON c.node = k.doc_id
        GROUP BY 1""")),

    // ---- fuzzy string matching (blocked edit-distance join): distinct
    // part names, blocked on a cheap key so the quadratic levenshtein
    // only runs inside blocks — the classic entity-resolution shape
    // (block → compare → survive). Works on the DISTINCT name table: at
    // any scale the distinct-values frame is orders of magnitude smaller
    // than the rows that carry them.
    //
    // Blocking key = 2-char prefix (vs 1-char: ~26× more blocks, so the
    // within-block quadratic shrinks ~26× for uniformly-distributed
    // names) + a |len(a)-len(b)| <= 4 band. The length band is LOSSLESS
    // given the edit_dist <= 4 survivor predicate (edit distance lower-
    // bounds the length difference); the 2-char prefix is the recall
    // trade-off every blocking scheme makes, stated here explicitly.
    QueryDef(
      "q89_fuzzy_name_pairs",
      (s, d) => {
        val names = Tables(s, d, "part").select(col("p_name")).distinct()
        names.as("a").join(names.as("b"),
          substring(col("a.p_name"), 1, 2) === substring(col("b.p_name"), 1, 2) &&
            abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 4 &&
            col("a.p_name") < col("b.p_name") &&
            levenshtein(col("a.p_name"), col("b.p_name")) <= 4)
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
            levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"))
      },
      Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
        FROM n a JOIN n b
          ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
         AND abs(length(a.p_name) - length(b.p_name)) <= 4
         AND a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 4""")),

    // ---- SimHash near-dup degree: how many neighbors each document
    // has at Hamming distance ≤ 1 over the 16-bit SimHash (q48's
    // signature turned into the join it exists for). Pigeonhole banding
    // makes it an EQUI-join: two differing bits can't split across both
    // 8-bit halves, so every qualifying pair shares at least one exact
    // half — candidates come from two band-keyed joins, dedup, then the
    // exact bit_count(xor) verify. Per-doc degree (not the raw pair
    // list) is the emitted surface: a 16-bit signature on a clustered
    // corpus yields O(100k) pairs, and the degree is what the dedup
    // policy consumes. Production note: 64-bit SimHash with 4 bands is
    // the same plan with thinner buckets.
    QueryDef(
      "q132_simhash_degree",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val sh = graft.operators.Dedup.simhash(docs, "doc_id", "text")
          .select(col("doc_id"), col("simhash16"),
            expr("simhash16 div 256").as("hi"), expr("simhash16 % 256").as("lo"))
          .cache()
        try {
          val pairs = Seq("hi", "lo").map { b =>
            sh.as("a").join(sh.as("b"),
              col(s"a.$b") === col(s"b.$b") && col("a.doc_id") < col("b.doc_id"))
              .select(
                col("a.doc_id").as("da"), col("b.doc_id").as("db"),
                col("a.simhash16").as("sa"), col("b.simhash16").as("sb"))
          }.reduce(_ unionByName _)
            .dropDuplicates("da", "db")
            .filter(expr("bit_count(sa ^ sb) <= 1"))
          val deg = pairs.select(col("da").as("doc_id"))
            .unionAll(pairs.select(col("db").as("doc_id")))
            .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
          docs.select("doc_id")
            .join(deg, Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
            .localCheckpoint()
        } finally sh.unpersist()
      },
      Some(s"""
        WITH h AS (SELECT doc_id, ${wordHashesDuck()} AS hs FROM documents),
        sh AS (SELECT doc_id, ${simhashDuck("hs", 16)} AS s FROM h),
        b AS (SELECT doc_id, s, s // 256 AS hi, s % 256 AS lo FROM sh),
        cand AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.s AS sa, c.s AS sb
          FROM b a JOIN b c ON a.hi = c.hi AND a.doc_id < c.doc_id
          UNION
          SELECT a.doc_id, c.doc_id, a.s, c.s
          FROM b a JOIN b c ON a.lo = c.lo AND a.doc_id < c.doc_id),
        pairs AS (
          SELECT * FROM cand
          WHERE bit_count(xor(CAST(sa AS BIGINT), CAST(sb AS BIGINT))) <= 1),
        deg AS (
          SELECT doc_id, count(*) AS n_near FROM (
            SELECT da AS doc_id FROM pairs
            UNION ALL SELECT db FROM pairs)
          GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(g.n_near, 0) AS BIGINT) AS n_near
        FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id""")),

    // ---- q132's production variant, evidence-backed: the 16-bit/8-bit-
    // band scheme has only 256 buckets, so bucket occupancy grows
    // linearly with the corpus and candidate pairs quadratically
    // (ScaleCheck measured 5.2× wall at 10× data). Here the signature is
    // 60-bit (the word hashes are 60-bit, so higher simhash bits are
    // degenerate) with 4×15-bit bands — 32768 buckets PER BAND, so
    // occupancy stays O(corpus/32768) and the four band-joins stay
    // linear. Pigeonhole for Hamming ≤ 1: one differing bit can touch
    // at most one band, so every qualifying pair agrees on ≥3 bands and
    // each band-join can find it; the union of all four + exact
    // bit_count verify is lossless. Same emitted surface as q132
    // (per-doc near-dup degree).
    QueryDef(
      "q141_simhash60_degree",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val sh = graft.operators.Dedup.simhash(docs, "doc_id", "text", bits = 60)
        val banded = (0 until 4).foldLeft(sh) { (df, i) =>
          df.withColumn(s"b$i", expr(s"shiftright(simhash60, ${15 * i}) & 32767"))
        }.cache()
        try {
          val pairs = (0 until 4).map { i =>
            banded.as("a").join(banded.as("b"),
              col(s"a.b$i") === col(s"b.b$i") && col("a.doc_id") < col("b.doc_id"))
              .select(
                col("a.doc_id").as("da"), col("b.doc_id").as("db"),
                col("a.simhash60").as("sa"), col("b.simhash60").as("sb"))
          }.reduce(_ unionByName _)
            .dropDuplicates("da", "db")
            .filter(expr("bit_count(sa ^ sb) <= 1"))
          val deg = pairs.select(col("da").as("doc_id"))
            .unionAll(pairs.select(col("db").as("doc_id")))
            .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
          docs.select("doc_id")
            .join(deg, Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("n_near"), lit(0L)).as("n_near"))
            .localCheckpoint()
        } finally banded.unpersist()
      },
      Some(s"""
        WITH h AS (SELECT doc_id, ${wordHashesDuck()} AS hs FROM documents),
        sh AS (SELECT doc_id, ${simhashDuck("hs", 60)} AS s FROM h),
        b AS (SELECT doc_id, s,
                     (s >> 0) & 32767 AS b0, (s >> 15) & 32767 AS b1,
                     (s >> 30) & 32767 AS b2, (s >> 45) & 32767 AS b3
              FROM sh),
        cand AS (
          SELECT a.doc_id AS da, c.doc_id AS db, a.s AS sa, c.s AS sb
          FROM b a JOIN b c ON a.b0 = c.b0 AND a.doc_id < c.doc_id
          UNION
          SELECT a.doc_id, c.doc_id, a.s, c.s
          FROM b a JOIN b c ON a.b1 = c.b1 AND a.doc_id < c.doc_id
          UNION
          SELECT a.doc_id, c.doc_id, a.s, c.s
          FROM b a JOIN b c ON a.b2 = c.b2 AND a.doc_id < c.doc_id
          UNION
          SELECT a.doc_id, c.doc_id, a.s, c.s
          FROM b a JOIN b c ON a.b3 = c.b3 AND a.doc_id < c.doc_id),
        pairs AS (
          SELECT * FROM cand
          WHERE bit_count(xor(CAST(sa AS BIGINT), CAST(sb AS BIGINT))) <= 1),
        deg AS (
          SELECT doc_id, count(*) AS n_near FROM (
            SELECT da AS doc_id FROM pairs
            UNION ALL SELECT db FROM pairs)
          GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(g.n_near, 0) AS BIGINT) AS n_near
        FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id""")),
  )
}
