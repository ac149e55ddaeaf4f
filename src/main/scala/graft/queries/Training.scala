package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Training-data-preparation operators over the documents corpus — the
  * steps between "raw crawl" and "tokenizer input" in an LLM pipeline:
  * repetition-based quality filtering (Gopher/C4-style), deterministic
  * stratified sampling for corpus mixing, and sequence packing into
  * fixed token budgets.
  *
  * Scale shapes: q92 is explode → two keyed aggs (word keyed by doc,
  * never global); q93 is a keyed window over strata; q94 is a keyed
  * window over hash shards — no global sort or single-partition window
  * anywhere, every number integer-exact or 6-dp-rounded for cross-engine
  * parity.
  */
object Training {
  // -- q92's quality gate, shared with the q114 manifest (Training3) so
  // the keep-rule cannot drift between the per-doc report and the
  // end-to-end pipeline. Both engines' formulations live here: the
  // Spark frames and the DuckDB stat CTEs are two renderings of the
  // same rule, edited together or not at all.

  /** Per-doc word totals: n_words, n_distinct_words, top_word_n. */
  private[queries] def wordStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max("c").as("top_word_n"))

  /** Per-doc 3-gram totals: n_grams, n_distinct_grams. */
  private[graft] def gramStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      expr("greatest(size(split(text, ' ')) - 2, 1)").cast("long").as("n_grams"),
      expr("""size(array_distinct(CASE WHEN size(split(text, ' ')) >= 3 THEN
                transform(sequence(0, size(split(text, ' ')) - 3), i ->
                  concat_ws(' ', slice(split(text, ' '), i + 1, 3)))
              ELSE array(text) END))""").cast("long").as("n_distinct_grams"))

  /** Keep iff 3-gram diversity >= 0.5 and top-word share <= 0.2. */
  private[queries] def qualityKeep: Column =
    col("n_distinct_grams").cast("double") / col("n_grams") >= 0.5 &&
      col("top_word_n").cast("double") / col("n_words") <= 0.2

  /** doc_ids passing the q92 keep rule. */
  private[queries] def qualityGateIds(docs: DataFrame): DataFrame =
    wordStats(docs).join(gramStats(docs), "doc_id")
      .filter(qualityKeep)
      .select("doc_id")

  /** DuckDB twin of wordStats/gramStats: CTEs words, wc, ws, gs. */
  private[queries] def qualityStatsCtesDuck(src: String = "documents"): String =
    s"""words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $src),
        wc AS (
          SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
        ws AS (
          SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct_words,
                 max(c) AS top_word_n
          FROM wc GROUP BY doc_id),
        gs AS (
          SELECT doc_id,
                 CAST(greatest(len(string_split(text, ' ')) - 2, 1) AS BIGINT) AS n_grams,
                 CAST(len(list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                       list_transform(range(1, len(string_split(text, ' ')) - 1), i ->
                         array_to_string(string_split(text, ' ')[i:i+2], ' '))
                     ELSE [text] END)) AS BIGINT) AS n_distinct_grams
          FROM $src)"""

  /** DuckDB twin of qualityKeep (over a ws ⋈ gs row). */
  private[queries] def qualityKeepDuck: String =
    "CAST(n_distinct_grams AS DOUBLE) / n_grams >= 0.5 AND " +
      "CAST(top_word_n AS DOUBLE) / n_words <= 0.2"

  // -- q96's language mixture (lang -> target tenths of the corpus) and
  // its hash-threshold encoding, shared with q114.
  private[queries] val mixtureWeights: Seq[(String, Long)] =
    Seq("en" -> 4L, "de" -> 2L, "es" -> 2L, "fr" -> 1L, "zh" -> 1L)

  /** floor(2⁶⁰·w/10): keep a doc iff hash60(id) < threshold(lang). */
  private[queries] def mixtureThreshold(num: Long): Long = (1L << 60) / 10 * num

  private[queries] def mixtureThresholdCol: Column =
    mixtureWeights.foldLeft(lit(0L)) { case (acc, (l, num)) =>
      when(col("lang") === l, lit(mixtureThreshold(num))).otherwise(acc)
    }

  /** DuckDB twin of mixtureThresholdCol. */
  private[queries] def mixtureCaseDuck(langExpr: String): String =
    s"CASE $langExpr " +
      mixtureWeights.map { case (l, n) => s"WHEN '$l' THEN ${mixtureThreshold(n)}" }
        .mkString(" ") + " ELSE 0 END"

  val defs: Seq[QueryDef] = Seq(

    // ---- repetition/quality filtering (the Gopher "repetition" family):
    // duplicate-word and duplicate-3-gram fractions plus the most-
    // frequent-word share, with a keep flag. Word stats via explode +
    // (doc,word) agg + doc agg — co-keyed shuffles; 3-gram distinctness
    // is a per-row codegen'd expression (no shuffle at all).
    QueryDef(
      "q92_repetition_filter",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        wordStats(docs).join(gramStats(docs), "doc_id")
          .select(
            col("doc_id"),
            round(lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"), 6)
              .as("dup_word_frac"),
            round(lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"), 6)
              .as("dup_3gram_frac"),
            round(col("top_word_n").cast("double") / col("n_words"), 6)
              .as("top_word_frac"),
            qualityKeep.as("keep"))
      },
      Some(s"""
        WITH ${qualityStatsCtesDuck()}
        SELECT ws.doc_id,
               round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 6) AS dup_word_frac,
               round(1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6) AS dup_3gram_frac,
               round(CAST(top_word_n AS DOUBLE) / n_words, 6) AS top_word_frac,
               ($qualityKeepDuck) AS keep
        FROM ws JOIN gs ON ws.doc_id = gs.doc_id""")),

    // ---- deterministic stratified sampling for corpus mixing: within
    // every (lang, source) stratum keep the ceil(n/5) docs with the
    // smallest md5-derived rank — a 20% per-stratum sample that is
    // byte-identical on any engine and any cluster size (contrast
    // rand()-based sampling). The rank window is keyed by stratum, so
    // parallelism (and the largest single sort) is bounded by stratum
    // granularity — right for fine-grained strata with exact-count
    // semantics; when a stratum can be an unbounded corpus share, use
    // the windowless hash-threshold selection (q96 shape) instead.
    QueryDef(
      "q93_stratified_sample",
      (s, d) => {
        val h = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        val w = Window.partitionBy("lang", "source").orderBy(col("__h").asc, col("doc_id").asc)
        Tables(s, d, "documents")
          .withColumn("__h", h)
          .withColumn("__rk", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("lang", "source")))
          .filter(col("__rk") <= floor((col("__n") + 4) / 5)) // ceil(n/5)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""
        WITH ranked AS (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang, source
                   ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) AS rk,
                 count(*) OVER (PARTITION BY lang, source) AS n
          FROM documents)
        SELECT doc_id, lang, source FROM ranked
        WHERE rk <= (n + 4) // 5""")),

    // ---- sequence packing: assign docs to fixed-token-budget packs.
    // Docs are hash-sharded, deterministically ordered within a shard,
    // and a doc joins pack floor(tokens_before / budget) — the standard
    // streaming-packing approximation (a pack overflows by at most one
    // doc; no global coordination). The running sum is sequential BY
    // DEFINITION, so the shard count IS the parallelism knob — and the
    // size of the largest single-task sort. 64 here; size it to cluster
    // width (thousands at 100 TB — shards are independent, more of them
    // costs nothing but smaller final packs' tail). The oracle replays
    // the identical integer arithmetic.
    QueryDef(
      "q94_sequence_packing",
      (s, d) => {
        val budget = 512
        val h = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        val w = Window.partitionBy("shard").orderBy(col("__h").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, d, "documents")
          .withColumn("__h", h)
          .withColumn("shard", pmod(col("__h"), lit(64)))
          .withColumn("tokens", expr("cast(size(split(text, ' ')) as bigint)"))
          .withColumn("pack_id", floor(coalesce(sum("tokens").over(w), lit(0L)) / budget))
          .groupBy("shard", "pack_id")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("tokens").as("pack_tokens"))
      },
      Some("""
        WITH sharded AS (
          SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents),
        packed AS (
          SELECT h % 64 AS shard, tokens,
                 CAST(floor(coalesce(sum(tokens) OVER (PARTITION BY h % 64
                   ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / 512) AS BIGINT) AS pack_id
          FROM sharded)
        SELECT shard, pack_id, count(*) AS n_docs,
               CAST(sum(tokens) AS BIGINT) AS pack_tokens
        FROM packed GROUP BY shard, pack_id""")),

    // ---- eval-set decontamination: flag training docs sharing any
    // 5-gram with the held-out set (source 'src0' plays the benchmark).
    // Equi-join on the 5-gram hash — the eval side is small by nature,
    // so AQE broadcasts it; at web scale the same shape runs behind
    // BloomJoin.semiJoinLong to prefilter the train scan. Per-doc
    // shingles are array_distinct'd, so count(*) after the join IS the
    // distinct shared-gram count.
    QueryDef(
      "q95_decontaminate",
      (s, d) => {
        import graft.operators.TextOps
        val grams = expr(TextOps.shingleHashesSpark(
          s"(${TextOps.ngramsSpark(5, "text")})"))
        val docs = Tables(s, d, "documents").withColumn("__g", grams)
        val ev = docs.filter(col("source") === "src0")
          .select(explode(col("__g")).as("h")).distinct()
        docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), explode(col("__g")).as("h"))
          .join(ev, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared_grams"))
      },
      Some {
        import graft.operators.TextOps
        val gramsDuck = TextOps.shingleHashesDuck(s"(${TextOps.ngramsDuck(5, "text")})")
        s"""
        WITH g AS (SELECT doc_id, source, $gramsDuck AS gs FROM documents),
        ev AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE source = 'src0'),
        tr AS (SELECT doc_id, unnest(gs) AS h FROM g WHERE source <> 'src0')
        SELECT doc_id, count(*) AS n_shared_grams
        FROM tr JOIN ev USING (h)
        GROUP BY doc_id"""
      }),

    // ---- domain mixture rebalancing: downsample each language stratum
    // toward a target corpus share (en 40%, de/es 20%, fr/zh 10%) — the
    // Pile/Gopher-style mixture step. Selection is a pure per-row hash
    // threshold: keep a doc iff hash60(id) < floor(2⁶⁰·w/10), a LITERAL
    // computed once — so there is NO window, NO per-stratum sort, and no
    // shuffle before the final 5-key agg. A rank-based "exactly
    // floor(n·w) per stratum" variant needs a per-stratum total order
    // (one task holds the hottest stratum at 100 TB — q93 carries that
    // pattern where strata are fine-grained); the threshold form keeps a
    // doc's fate a function of its id alone, so membership is stable as
    // the corpus grows and the kept share concentrates tightly around w.
    // All integer arithmetic, bit-identical across engines.
    QueryDef(
      "q96_mixture_rebalance",
      (s, d) => {
        val h = expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        Tables(s, d, "documents")
          .withColumn("__h", h)
          .filter(col("__h") < mixtureThresholdCol)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_doc"))
      },
      Some(s"""
        WITH hashed AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h,
                 ${mixtureCaseDuck("lang")} AS th
          FROM documents)
        SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc
        FROM hashed WHERE h < th
        GROUP BY lang""")),

    // ---- C4-style text normalization: lowercase, strip non-alphanumerics,
    // collapse whitespace — pure per-row regex work inside whole-stage
    // codegen, zero shuffle. The patterns are deliberately dialect-neutral
    // (identical semantics in Java regex and RE2); DuckDB needs the 'g'
    // flag Spark applies implicitly.
    QueryDef(
      "q97_normalize_text",
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        Tables(s, d, "documents").select(
          col("doc_id"),
          md5(norm).as("norm_md5"),
          length(norm).cast("long").as("norm_chars"),
          (norm =!= col("text")).as("changed"))
      },
      Some("""
        WITH n AS (
          SELECT doc_id, text,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id, md5(norm) AS norm_md5,
               CAST(length(norm) AS BIGINT) AS norm_chars,
               (norm <> text) AS changed
        FROM n""")),

    // ---- vocabulary truncation: the exact global top-k words by corpus
    // frequency (ties broken lexically). ORDER BY + LIMIT plans as
    // TakeOrderedAndProject — per-partition top-k merged at the driver,
    // NOT a global sort (PlanSpec asserts it); the shape that gives an
    // exact cut of a 100 TB vocabulary without ever range-partitioning it.
    QueryDef(
      "q98_vocab_topk",
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word").asc)
          .limit(25),
      Some("""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        GROUP BY word
        ORDER BY n DESC, word
        LIMIT 25""")),
  )
}
