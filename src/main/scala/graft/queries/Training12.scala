package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps._

/** Twelfth wave: the audit queries a curation team runs AFTER the
  * pipeline of waves I-XI has produced a candidate corpus — does the
  * importance weighting throw away effective sample size, do sources
  * secretly share a vocabulary, do near-duplicates leak across the
  * train/test split, how good is the cheap language-ID heuristic
  * (agreement + per-class precision/recall), and is event traffic
  * overdispersed versus the Poisson assumption capacity planning uses.
  *
  * Determinism discipline (unchanged from earlier waves): ratios leave
  * the engine as half-up integer ppm on exact integers —
  * `(2s+n) div (2n)`, DECIMAL(38,0)/HUGEINT guards on every product
  * that could exceed 64 bits — or as a single round-6 double division
  * of two exactly-equal integers.
  *
  * Scale notes per query are inline; the common theme is that every
  * data-sized pass is one map-side-combinable groupBy and every join
  * after it runs on a bounded dictionary (20 sources, ≤6 language
  * classes, 3 splits, 5 event types).
  */
object Training12 {
  /** q113's hash-stable split label, as an expression over an id column
    * — the same md5-derived 60-bit hash both engines compute, so split
    * assignment is a pure function of doc_id everywhere.
    */
  private def splitSpark(id: String) =
    s"""CASE WHEN ${hash60Spark(s"cast($id as string)")} % 10 < 8 THEN 'train'
       |     WHEN ${hash60Spark(s"cast($id as string)")} % 10 < 9 THEN 'valid'
       |     ELSE 'test' END""".stripMargin
  private def splitDuck(id: String) =
    s"""CASE WHEN ${hash60Duck(s"$id::VARCHAR")} % 10 < 8 THEN 'train'
       |     WHEN ${hash60Duck(s"$id::VARCHAR")} % 10 < 9 THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  /** q41's marker-word language heuristic as a reusable frame:
    * (lang, lang_guess) per document — the shared input of the q184
    * kappa and q185 PRF audits. Map-only: one pass, no shuffle.
    */
  private val markers = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "los", "las", "una"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("les", "et", "dans", "une"))

  private def langGuessed(docs: DataFrame): DataFrame = {
    def hits(words: Seq[String]) = {
      val list = words.map(w => s"'$w'").mkString(", ")
      expr(s"cast(size(filter(split(text, ' '), w -> w IN ($list))) as bigint)")
    }
    val scored = markers.foldLeft(docs) {
      case (df, (l, ws)) => df.withColumn(s"${l}_score", hits(ws))
    }
    scored.select(
      col("lang"),
      when(col("en_score") >= greatest(col("es_score"), col("de_score"), col("fr_score"))
        && col("en_score") >= 1, lit("en"))
        .when(col("es_score") >= greatest(col("de_score"), col("fr_score"))
          && col("es_score") >= 1, lit("es"))
        .when(col("de_score") >= col("fr_score") && col("de_score") >= 1, lit("de"))
        .when(col("fr_score") >= 1, lit("fr"))
        .otherwise(lit("unknown")).as("lang_guess"))
  }

  /** DuckDB mirror of [[langGuessed]] (q41's oracle formulation). */
  private def langGuessDuck(table: String): String = {
    def h(ws: Seq[String]) = {
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($list))) AS BIGINT)"
    }
    val Seq(en, es, de, fr) = markers.map(m => h(m._2))
    s"""SELECT lang,
       |       CASE WHEN en_score >= greatest(es_score, de_score, fr_score)
       |                 AND en_score >= 1 THEN 'en'
       |            WHEN es_score >= greatest(de_score, fr_score)
       |                 AND es_score >= 1 THEN 'es'
       |            WHEN de_score >= fr_score AND de_score >= 1 THEN 'de'
       |            WHEN fr_score >= 1 THEN 'fr'
       |            ELSE 'unknown' END AS lang_guess
       |FROM (SELECT lang, $en AS en_score, $es AS es_score,
       |             $de AS de_score, $fr AS fr_score
       |      FROM $table)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- effective sample size of importance-weighted sources.
    // Quality-weighted sampling (weight ∝ clamped length here, a stand-in
    // for any integer quality score) costs statistical efficiency:
    // ESS = (Σw)²/Σw² ≤ n, and ess_ppm reports the retained fraction per
    // source in half-up ppm (Kish's formula). One groupBy of documents;
    // the weights are exact integers so (Σw)² and n·Σw² are exact
    // DECIMAL(38,0) products at any corpus size.
    QueryDef(
      "q181_ess_weights",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("source"),
            expr("least(10L, greatest(1L, n_chars div 100))").as("w"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("w").as("sum_w"),
            sum(expr("w * w")).as("sum_w2"))
          .select(
            col("source"), col("n_docs"), col("sum_w"), col("sum_w2"),
            expr("""(2 * 1000000 * CAST(sum_w AS DECIMAL(38,0)) * sum_w
                    + CAST(n_docs AS DECIMAL(38,0)) * sum_w2)
                    div (2 * CAST(n_docs AS DECIMAL(38,0)) * sum_w2)""").as("ess_ppm"))
          .orderBy("source"),
      Some("""
        WITH a AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(least(10, greatest(1, n_chars // 100))) AS BIGINT) AS sum_w,
                 CAST(sum(least(10, greatest(1, n_chars // 100))
                          * least(10, greatest(1, n_chars // 100))) AS BIGINT) AS sum_w2
          FROM documents GROUP BY 1)
        SELECT source, n_docs, sum_w, sum_w2,
               CAST((2 * 1000000 * CAST(sum_w AS HUGEINT) * sum_w
                     + CAST(n_docs AS HUGEINT) * sum_w2)
                    // (2 * CAST(n_docs AS HUGEINT) * sum_w2) AS BIGINT) AS ess_ppm
        FROM a ORDER BY source""")),

    // ---- pairwise vocabulary Jaccard between sources: how much word
    // inventory do two slices share? The data-sized pass is ONE distinct
    // over (source, word) — after it, every row's fan-out in the
    // word-level self-join is bounded by the number of SOURCES a word
    // appears in (≤ 20 here, ≤ #sources always), so join output is
    // O(|vocab| · sources²) — independent of corpus row count. Per-source
    // vocabulary sizes broadcast back onto the 190-row pair frame.
    QueryDef(
      "q182_vocab_overlap",
      (s, d) => {
        val sw = Tables(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .distinct()
        val sizes = sw.groupBy("source").agg(count(lit(1)).as("vsz"))
        val shared = sw.as("a").join(sw.as("b"),
          col("a.word") === col("b.word") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(broadcast(sizes.withColumnRenamed("source", "source_a")
            .withColumnRenamed("vsz", "va")), "source_a")
          .join(broadcast(sizes.withColumnRenamed("source", "source_b")
            .withColumnRenamed("vsz", "vb")), "source_b")
          .select(
            col("source_a"), col("source_b"), col("shared"),
            expr("""(2 * 1000000 * shared + (va + vb - shared))
                    div (2 * (va + vb - shared))""").as("jaccard_ppm"))
          .orderBy("source_a", "source_b")
      },
      Some("""
        WITH sw AS (
          SELECT DISTINCT source, word
          FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> ''),
        sizes AS (SELECT source, count(*) AS vsz FROM sw GROUP BY 1),
        shared AS (
          SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
          FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, shared,
               CAST((2 * 1000000 * shared + (sa.vsz + sb.vsz - shared))
                    // (2 * (sa.vsz + sb.vsz - shared)) AS BIGINT) AS jaccard_ppm
        FROM shared
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
        ORDER BY source_a, source_b""")),

    // ---- near-duplicate leakage across the train/valid/test split: the
    // benchmark-integrity audit every eval suite needs. Candidate pairs
    // come from the q46 MinHash-LSH machinery (banded, bucket-capped —
    // never all-pairs); each pair's splits are then PURE FUNCTIONS of the
    // two doc_ids (q113's hash-stable assignment), so no join back to the
    // corpus is needed. A pair whose endpoints land in different splits
    // is leakage: its eval half memorizes its train half. Output is the
    // 3x3 split-pair contingency of candidate pairs, leak-flagged.
    QueryDef(
      "q183_split_leakage",
      (s, d) => {
        import graft.operators.Dedup
        Dedup.minhashCandidatePairs(
          Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text"), "doc_id")
          .select(
            expr(splitSpark("doc_id_a")).as("sa"),
            expr(splitSpark("doc_id_b")).as("sb"))
          .select(
            least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .groupBy("split_lo", "split_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaked", col("split_lo") =!= col("split_hi"))
          .orderBy("split_lo", "split_hi")
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
        kept AS (SELECT s.* FROM stacked s JOIN ok USING (band_idx, band_key)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        lab AS (
          SELECT ${splitDuck("doc_a")} AS sa,
                 ${splitDuck("doc_b")} AS sb
          FROM pairs)
        SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
               count(*) AS n_pairs,
               least(sa, sb) <> greatest(sa, sb) AS leaked
        FROM lab
        GROUP BY 1, 2
        ORDER BY split_lo, split_hi""")),

    // ---- Cohen's kappa between the q41 marker-word language heuristic
    // and the labeled language: chance-corrected agreement, THE metric
    // for "is the cheap classifier better than guessing the priors".
    // kappa = (n·a - Σ rt·ct)/(n² - Σ rt·ct) where a = agreements and
    // rt/ct are actual/guessed marginals — all exact integers from one
    // confusion-matrix groupBy (bounded: classes², ≤ 36 rows), so the
    // single round-6 double division is deterministic. The expected-
    // agreement join runs on the class dictionary, never on rows.
    QueryDef(
      "q184_lang_kappa",
      (s, d) => {
        val conf = langGuessed(Tables(s, d, "documents"))
          .groupBy("lang", "lang_guess").agg(count(lit(1)).as("c"))
          .localCheckpoint() // tiny (≤ classes²); reused by four aggs below
        val nF = conf.agg(sum("c").as("n"))
        val agree = conf.filter(col("lang") === col("lang_guess"))
          .agg(coalesce(sum("c"), lit(0L)).as("a"))
        val rt = conf.groupBy("lang").agg(sum("c").as("rt"))
        val ct = conf.groupBy("lang_guess").agg(sum("c").as("ct"))
        val pe = rt.join(ct, rt("lang") === ct("lang_guess"))
          .agg(coalesce(sum(expr("rt * ct")), lit(0L)).as("p"))
        nF.crossJoin(agree).crossJoin(pe)
          .select(
            col("n").as("n_docs"), col("a").as("n_agree"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * a - p AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(38,0)) * n - p AS DOUBLE), 6)""")
              .as("kappa"))
      },
      Some {
        s"""
        WITH conf AS (
          SELECT lang, lang_guess, count(*) AS c
          FROM (${langGuessDuck("documents")})
          GROUP BY 1, 2),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM conf),
        a AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS a
              FROM conf WHERE lang = lang_guess),
        rt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS rt FROM conf GROUP BY 1),
        ct AS (SELECT lang_guess, CAST(sum(c) AS BIGINT) AS ct FROM conf GROUP BY 1),
        pe AS (SELECT CAST(coalesce(sum(rt * ct), 0) AS BIGINT) AS p
               FROM rt JOIN ct ON rt.lang = ct.lang_guess)
        SELECT n.n AS n_docs, a.a AS n_agree,
               round(CAST(CAST(n.n AS HUGEINT) * a.a - pe.p AS DOUBLE)
                 / CAST(CAST(n.n AS HUGEINT) * n.n - pe.p AS DOUBLE), 6) AS kappa
        FROM n, a, pe"""
      }),

    // ---- per-class precision/recall/F1 of the same heuristic, the
    // companion table to q184's single kappa number. Classes are the
    // union of actual and guessed labels (full outer on the marginals);
    // F1 uses the exact identity 2·TP/(actual+guessed) so no rounded
    // intermediate feeds another division. Zero-support classes report 0
    // via nullif guards (ANSI mode: unguarded x/0 would throw).
    QueryDef(
      "q185_lang_prf",
      (s, d) => {
        val conf = langGuessed(Tables(s, d, "documents"))
          .groupBy("lang", "lang_guess").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val actual = conf.groupBy(col("lang").as("cls")).agg(sum("c").as("n_actual"))
        val guessed = conf.groupBy(col("lang_guess").as("cls")).agg(sum("c").as("n_guessed"))
        val tp = conf.filter(col("lang") === col("lang_guess"))
          .select(col("lang").as("cls"), col("c").as("tp"))
        actual.join(guessed, Seq("cls"), "full_outer")
          .join(tp, Seq("cls"), "left_outer")
          .select(
            col("cls"),
            coalesce(col("n_actual"), lit(0L)).as("n_actual"),
            coalesce(col("n_guessed"), lit(0L)).as("n_guessed"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .select(
            col("cls"), col("n_actual"), col("n_guessed"), col("tp"),
            coalesce(expr("(2 * 1000000 * tp + n_guessed) div (2 * nullif(n_guessed, 0))"),
              lit(0L)).as("precision_ppm"),
            coalesce(expr("(2 * 1000000 * tp + n_actual) div (2 * nullif(n_actual, 0))"),
              lit(0L)).as("recall_ppm"),
            coalesce(expr("""(2 * 2000000 * tp + (n_actual + n_guessed))
                             div (2 * nullif(n_actual + n_guessed, 0))"""),
              lit(0L)).as("f1_ppm"))
          .orderBy("cls")
      },
      Some {
        s"""
        WITH conf AS (
          SELECT lang, lang_guess, count(*) AS c
          FROM (${langGuessDuck("documents")})
          GROUP BY 1, 2),
        actual AS (SELECT lang AS cls, CAST(sum(c) AS BIGINT) AS n_actual
                   FROM conf GROUP BY 1),
        guessed AS (SELECT lang_guess AS cls, CAST(sum(c) AS BIGINT) AS n_guessed
                    FROM conf GROUP BY 1),
        tp AS (SELECT lang AS cls, CAST(c AS BIGINT) AS tp
               FROM conf WHERE lang = lang_guess),
        m AS (
          SELECT coalesce(a.cls, g.cls) AS cls,
                 coalesce(n_actual, 0) AS n_actual,
                 coalesce(n_guessed, 0) AS n_guessed
          FROM actual a FULL OUTER JOIN guessed g ON a.cls = g.cls)
        SELECT m.cls, n_actual, n_guessed, coalesce(tp, 0) AS tp,
               coalesce(CAST((2 * 1000000 * coalesce(tp, 0) + n_guessed)
                             // (2 * nullif(n_guessed, 0)) AS BIGINT), 0) AS precision_ppm,
               coalesce(CAST((2 * 1000000 * coalesce(tp, 0) + n_actual)
                             // (2 * nullif(n_actual, 0)) AS BIGINT), 0) AS recall_ppm,
               coalesce(CAST((2 * 2000000 * coalesce(tp, 0) + (n_actual + n_guessed))
                             // (2 * nullif(n_actual + n_guessed, 0)) AS BIGINT), 0) AS f1_ppm
        FROM m LEFT JOIN tp ON tp.cls = m.cls
        ORDER BY m.cls"""
      }),

    // ---- overdispersion of per-user event counts by event type: the
    // variance-to-mean ratio (index of dispersion). Poisson traffic has
    // VMR = 1; VMR >> 1 means bursty users, which changes capacity
    // planning and any rate-limit design. Two keyed aggs — (type, user)
    // then type — both map-side combinable; VMR in half-up ppm from the
    // exact identity var/mean = (n·Q - S²)/(n·S) on integer counts, with
    // DECIMAL(38,0)/HUGEINT guards on the cross-products.
    QueryDef(
      "q186_event_dispersion",
      (s, d) =>
        Tables(s, d, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_users"),
            sum("c").as("n_events"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q"))
          .select(
            col("event_type"), col("n_users"), col("n_events"),
            expr("""(2 * 1000000 * (CAST(n_users AS DECIMAL(38,0)) * q
                                    - CAST(n_events AS DECIMAL(38,0)) * n_events)
                    + CAST(n_users AS DECIMAL(38,0)) * n_events)
                    div (2 * CAST(n_users AS DECIMAL(38,0)) * n_events)""").as("vmr_ppm"))
          .orderBy("event_type"),
      Some("""
        WITH uc AS (
          SELECT event_type, user_id, count(*) AS c
          FROM events GROUP BY 1, 2),
        a AS (
          SELECT event_type, count(*) AS n_users,
                 CAST(sum(c) AS BIGINT) AS n_events,
                 CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
          FROM uc GROUP BY 1)
        SELECT event_type, n_users, n_events,
               CAST((2 * 1000000 * (CAST(n_users AS HUGEINT) * q
                                    - CAST(n_events AS HUGEINT) * n_events)
                     + CAST(n_users AS HUGEINT) * n_events)
                    // (2 * CAST(n_users AS HUGEINT) * n_events) AS BIGINT) AS vmr_ppm
        FROM a ORDER BY event_type""")),
  )

}
