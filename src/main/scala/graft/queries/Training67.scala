package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.plans.MaterializedViewRewrite

/** Sixty-seventh wave — transparent materialized-view rewrite, both
  * sides of the contract:
  *
  *  - q369: a registered per-language summary ANSWERS the matching
  *    aggregate — the optimizer substitutes the kilobyte MV scan for
  *    the corpus scan, invisibly to the query author (PlanSpec pins
  *    the substituted plan).
  *  - q370: the conservative guard — a filtered aggregate must NOT
  *    rewrite (the MV grain can't answer it) and falls back to the
  *    base scan with identical semantics.
  *
  * Both queries install the rule via
  * `spark.experimental.extraOptimizations` (the extension-less hook;
  * `GraftExtensions` injects the same rule for `spark.sql.extensions`
  * users).
  */
object Training67 {
  /** Build + register the per-language MV for `d`'s documents table
    * (idempotent per sfDir), install the rule, and return the base
    * frame. Shared by q369/q370 so the registry state is identical
    * whichever runs first.
    */
  private[queries] def withDocsMv(s: SparkSession, d: String): DataFrame = {
    // The MV cache key carries a BASE-CONTENT fingerprint
    // (graft.Stage.key: per-file size + mtime + md5 of the full path),
    // not just the path: a testdata dir regenerated in place gets a
    // fresh MV instead of a silently stale one, and two datasets can
    // never collide onto one artifact.
    val mvPath = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_mv_docs_${graft.Stage.key(d, "documents")}").toString
    val docs = Tables(s, d, "documents")
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(mvPath, "_SUCCESS"))) {
      docs.groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_n_chars"))
        .write.mode("overwrite").parquet(mvPath)
    }
    MaterializedViewRewrite.register(s, s"$d/documents.parquet", mvPath,
      "lang", Set("n_chars"))
    if (!s.experimental.extraOptimizations.contains(MaterializedViewRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ MaterializedViewRewrite
    docs
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- the rewrite FIRES: the declared plan is the plain corpus
    // rollup a user writes; the optimizer answers it from the MV
    // (count(1) → Σ mv.cnt, sum(n_chars) → Σ mv.sum_n_chars — re-
    // aggregated over the MV so multi-file summaries stay correct).
    // The oracle computes from the BASE table: rewrite correctness IS
    // the hash equality. At 100 TB this is the difference between a
    // fact scan and a dictionary read.
    QueryDef(
      "q369_materialized_view_rewrite",
      (s, d) => {
        val docs = withDocsMv(s, d)
        docs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1 ORDER BY lang""")),

    // ---- the guard HOLDS: the same rollup with a predicate the MV
    // grain cannot answer (doc_id % 3 = 0) must fall back to the base
    // scan — a rewrite that fired here would return wrong numbers.
    // Declared beside q369 so the rewrite's firing condition is pinned
    // from both sides (PlanSpec asserts base-scan here, MV-scan there).
    QueryDef(
      "q370_materialized_view_guard",
      (s, d) => {
        val docs = withDocsMv(s, d)
        docs.filter(col("doc_id") % 3 === 0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents WHERE doc_id % 3 = 0
        GROUP BY 1 ORDER BY lang""")),
  )
}
