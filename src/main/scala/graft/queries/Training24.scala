package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, TextOps}

/** Twenty-fourth wave: curation selection machinery. q227 is
  * containment search — the ASYMMETRIC near-dup relation |A∩B|/|A|
  * that Jaccard misses (a short doc quoted inside a long one scores
  * low Jaccard but containment ≈ 1) — the quote/boilerplate-inclusion
  * detector. q228 is the budget-fill curve: quality-tiered cumulative
  * token mass with a budget cut flag — the table that answers "which
  * tiers fit the training budget" without ever globally sorting
  * documents.
  *
  * Scale shapes: q227 rides the q47 co-occurrence join (hot-shingle
  * cap discipline applies) and its threshold is an exact integer
  * predicate; q228's only data-sized pass is the per-tier agg — the
  * cumulative window runs over ≤64 bit-length tiers.
  */
object Training24 {
  val defs: Seq[QueryDef] = Seq(

    // ---- containment pairs at τ = 0.9: doc pairs where at least 90%
    // of ONE side's shingles appear in the other. Both directions are
    // emitted (c/na, c/nb) with the integer gate 10c ≥ 9·min(na,nb) —
    // a pair qualifies iff its SMALLER side is mostly contained.
    // Shared counts come from the same equi-join shape as q47 through
    // Dedup.cappedPostings, so the hot-shingle df cap (64, above the
    // harness max df of 25 at sf0.1 — results byte-identical, oracle
    // stays the uncapped form) bounds the self-join the same way
    // jaccardPairs' does; sizes join back by doc key and are post-cap,
    // i.e. containment is computed over the df≤cap shingle space.
    QueryDef(
      "q227_containment_pairs",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("__wh", expr(TextOps.wordHashesSpark("text")))
          .select(col("doc_id"),
            expr(TextOps.ngramHashesSpark(3, "__wh")).as("__ngrams"))
          .cache()
        val cp = Dedup.cappedPostings(docs, "doc_id", "__ngrams", dfCap = 64)
        val (ex, sizes, release) = (cp.postings, cp.sizes, cp.release)
        val shared = ex.as("a").join(ex.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("c"))
        val result = shared
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
          .where(col("c") * 10 >= least(col("na"), col("nb")) * 9)
          .select(col("doc_a"), col("doc_b"), col("c"),
            round(col("c").cast("double") / col("na"), 6).as("cont_a_in_b"),
            round(col("c").cast("double") / col("nb"), 6).as("cont_b_in_a"))
          .localCheckpoint() // free the shingle cache
        release()
        docs.unpersist()
        result
      },
      Some(s"""
        WITH wh AS (
          SELECT doc_id, ${TextOps.wordHashesDuck()} AS wh FROM documents),
        docs AS (
          SELECT doc_id, ${TextOps.ngramHashesDuck(3, "wh")} AS ngrams
          FROM wh),
        ex AS (SELECT doc_id, unnest(ngrams) AS h FROM docs),
        sizes AS (SELECT doc_id, len(ngrams) AS n FROM docs),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, c,
               round(CAST(c AS DOUBLE) / sa.n, 6) AS cont_a_in_b,
               round(CAST(c AS DOUBLE) / sb.n, 6) AS cont_b_in_a
        FROM shared
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE c * 10 >= least(sa.n, sb.n) * 9""")),

    // ---- budget-fill curve: documents tiered by length bit-length
    // (the q190 integer-exact bucketing), tiers filled best-first
    // (longest tier down), cumulative char mass against a 50%-of-
    // corpus budget. in_budget marks tiers that fit entirely; the
    // first false row is where a selector switches to partial
    // sampling. Data passes: ONE per-tier agg; the cumulative window
    // runs over ≤64 tier rows.
    QueryDef(
      "q228_budget_fill",
      (s, d) => {
        val tiers = Tables(s, d, "documents")
          .select(
            expr("CAST(length(conv(n_chars, 10, 2)) AS BIGINT)").as("tier"),
            col("n_chars"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        val tot = tiers.agg(sum("chars").as("total_chars"))
        val w = Window.orderBy(col("tier").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tiers.crossJoin(broadcast(tot))
          .withColumn("cum_chars", sum("chars").over(w))
          .select(col("tier"), col("n_docs"), col("chars"), col("cum_chars"),
            (col("cum_chars") * 2 <= col("total_chars")).as("in_budget"))
      },
      Some("""
        WITH t2 AS (
          SELECT CAST(length(printf('%b', n_chars)) AS BIGINT) AS tier,
                 n_chars
          FROM documents),
        agged AS (
          SELECT tier, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM t2 GROUP BY tier),
        tot AS (SELECT CAST(sum(chars) AS BIGINT) AS total_chars FROM agged)
        SELECT tier, n_docs, chars,
               CAST(sum(chars) OVER (ORDER BY tier DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_chars,
               CAST(sum(chars) OVER (ORDER BY tier DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 2
                    <= total_chars AS BOOLEAN) AS in_budget
        FROM agged, tot""")),
  )
}
