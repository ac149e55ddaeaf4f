package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Twenty-first wave: retrieval-index and distribution-alignment
  * operators. q221 is conjunctive posting-list search (docs containing
  * ALL query terms) done the inverted-index way — explode to postings,
  * filter to the term set, intersect by counting — the primitive
  * behind every AND query over a document store. q222 is the
  * source×global-decile alignment matrix: global equi-depth boundaries
  * of doc length assigned per row by a broadcast comparison fold, then
  * counted per source — the quantile-normalization table that shows
  * which sources skew short/long before mixing.
  *
  * Scale shapes: q221's postings are filtered to the |terms| query set
  * BEFORE any shuffle (the grouped intersection runs over matched
  * postings only, ~|terms|·df rows); q222 is the EquiDepthBins shape —
  * boundaries are ONE agg broadcast everywhere, assignment is a
  * per-row codegen fold, stats are a |sources|×10-key agg. No sort, no
  * global window anywhere.
  */
object Training21 {
  val defs: Seq[QueryDef] = Seq(

    // ---- conjunctive search over an inverted index: documents whose
    // word set contains ALL of {join, merge, window}. Posting rows are
    // filtered to the term set at the scan (predicate pushes into the
    // explode stream), distinct-ed per (doc, term), and the AND is
    // "count matched terms = |terms|" — the counting form of posting
    // intersection that needs no N-way self-join. Emits the matched
    // docs with their lengths (join back is a keyed semi-shape join).
    QueryDef(
      "q221_conjunctive_search",
      (s, d) => {
        val terms = Seq("join", "merge", "window")
        val docs = Tables(s, d, "documents")
        val hits = docs
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .where(col("w").isin(terms: _*))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"))
          .where(col("n_terms") === terms.length)
        hits.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
          .select("doc_id", "source", "n_chars")
      },
      Some("""
        WITH postings AS (
          SELECT DISTINCT doc_id, w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w IN ('join', 'merge', 'window')),
        hits AS (
          SELECT doc_id FROM postings
          GROUP BY doc_id HAVING count(*) = 3)
        SELECT d.doc_id, d.source, d.n_chars
        FROM hits h JOIN documents d ON h.doc_id = d.doc_id""")),

    // ---- source × global-decile alignment matrix: decile boundaries
    // of n_chars over the WHOLE corpus (one agg, rounded 6 dp,
    // broadcast), each doc assigned bin = 1 + #{boundaries < v} by a
    // codegen'd fold, counts per (source, bin) with each source's
    // share. A perfectly aligned source puts ~10% in every global
    // decile; the share column is the drift that re-weighting has to
    // correct. Same scale shape as EquiDepthBins: no sort, no global
    // window.
    QueryDef(
      "q222_source_decile_mix",
      (s, d) => {
        val probs = (1 until 10).map(_ / 10.0).mkString("array(", ", ", ")")
        val docs = Tables(s, d, "documents")
          .select(col("source"), col("n_chars").cast("double").as("v"))
        val bounds = docs.agg(expr(
          s"transform(percentile(v, $probs), b -> round(b, 6))")
          .as("__bounds"))
        val binned = docs.crossJoin(broadcast(bounds))
          .withColumn("bin", expr(
            """cast(aggregate(__bounds, 0,
              |  (acc, b) -> acc + (CASE WHEN v > b THEN 1 ELSE 0 END))
              | + 1 as bigint)""".stripMargin))
        val perSource = binned.groupBy("source")
          .agg(count(lit(1)).as("src_n"))
        binned.groupBy("source", "bin").agg(count(lit(1)).as("n"))
          .join(perSource, "source")
          .select(col("source"), col("bin"), col("n"),
            expr("round(CAST(n AS DOUBLE) / src_n, 6)").as("share"))
      },
      Some({
        val qs = (1 until 10)
          .map(p => s"round(quantile_cont(CAST(n_chars AS DOUBLE), 0.$p), 6)")
          .mkString("[", ", ", "]")
        s"""
        WITH b AS (SELECT $qs AS bounds FROM documents),
        binned AS (
          SELECT source,
                 CAST(len(list_filter(b.bounds,
                        x -> CAST(n_chars AS DOUBLE) > x)) + 1 AS BIGINT)
                   AS bin
          FROM documents, b),
        per_source AS (
          SELECT source, count(*) AS src_n FROM binned GROUP BY source)
        SELECT bd.source, bd.bin, count(*) AS n,
               round(CAST(count(*) AS DOUBLE) / any_value(ps.src_n), 6)
                 AS share
        FROM binned bd JOIN per_source ps ON bd.source = ps.source
        GROUP BY bd.source, bd.bin"""
      })),
  )
}
