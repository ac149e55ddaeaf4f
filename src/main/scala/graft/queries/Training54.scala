package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-fourth wave — custom UDTF machinery:
  *
  *  - q333: top trigrams via `graft_ngrams`, a custom Catalyst
  *    Generator (functions/NGramGenerator) planned through the same
  *    `Generate` node as explode — the user-defined TABLE function
  *    surface, completing the extension triptych (scalar Expression,
  *    typed Aggregator, Generator).
  */
object Training54 {
  val defs: Seq[QueryDef] = Seq(

    // ---- the corpus's top-10 trigrams through the custom generator:
    // one Generate pass (rows ∝ token mass) into a map-side-combinable
    // count — identical scale shape to the composed
    // transform/concat shingling in q45/q95, but emitted by a single
    // generator expression with no intermediate arrays. The oracle
    // rebuilds trigrams from token lists.
    QueryDef(
      "q333_custom_udtf",
      (s, d) => {
        graft.functions.NGramGenerator.register(s)
        Tables(s, d, "documents")
          .select(expr(
            "graft_ngrams(filter(split(text, ' '), w -> w <> ''), 3)"))
          .groupBy("ngram")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("ngram").asc)
          .limit(10)
      },
      Some("""
        WITH toks AS (
          SELECT list_filter(string_split(text, ' '), w -> w <> '') AS tk
          FROM documents),
        tg AS (
          SELECT tk, CAST(unnest(range(1, len(tk) - 1)) AS INTEGER) AS i
          FROM toks WHERE len(tk) >= 3)
        SELECT tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS ngram,
               count(*) AS n
        FROM tg GROUP BY 1 ORDER BY n DESC, ngram LIMIT 10""")),
  )
}
