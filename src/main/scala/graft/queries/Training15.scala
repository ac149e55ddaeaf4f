package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Fifteenth wave: cluster-operations analytics — the queries an engine
  * runs about its OWN data layout and aggregation state when the corpus
  * is 100 TB. q194 plans shard placement with rendezvous hashing and
  * measures reshard churn (the reason HRW beats mod-N at scale: adding
  * a node moves ~1/(N+1) of keys, not (N-1)/N). q195 exercises Spark 4
  * collation-aware grouping (UTF8_LCASE) — semantics the engine needs
  * for case-insensitive entity keys without lossy pre-lowering. q196 is
  * the small-file compaction planner: order-preserving bin packing of
  * file metadata by cumulative target size (the table-maintenance job
  * behind every petabyte lakehouse). q197 pins the partial-aggregate
  * merge contract: per-source moment states (n, Σx, Σx²) merged to a
  * global variance must equal the direct computation — the algebraic
  * property that makes two-phase (map-side partial, reduce-side final)
  * aggregation correct at any partitioning. q198 is a 30-row rolling
  * Pearson correlation over the daily order series — the windowed
  * integer-moment recipe (q166/q178 discipline) applied to a sliding
  * frame.
  *
  * Scale shapes: q194/q197/q198 are single keyed aggregations (the
  * rendezvous argmax is a per-row integer fold — no join against a
  * shard table); q196's window runs over file METADATA (thousands of
  * rows for a 100 TB table), not data; q195 is one hash aggregation
  * whose key comparison is collation-aware codegen.
  */
object Training15 {
  /** Rendezvous (highest-random-weight) score packed into one BIGINT:
    * 55-bit hash of (id '#' shard) in the high bits, shard id in the
    * low 4, so arg-max-by-hash = max of the packed value, tie-free and
    * identical in any engine. 2^55·16 = 2^59 < 2^63: no overflow.
    */
  private def hrwSpark(id: String, n: Int): String =
    s"""array_max(transform(sequence(0, ${n - 1}),
       |  s -> (${hash60Spark(s"concat(cast($id as string), '#', cast(s as string))")}
       |        % 36028797018963968L) * 16L + cast(s as bigint))) % 16""".stripMargin
  private def hrwDuck(id: String, n: Int): String =
    s"""list_max(list_transform(range(0, $n),
       |  s -> ((${hash60Duck(s"$id::VARCHAR || '#' || s::VARCHAR")})
       |        % 36028797018963968) * 16 + s)) % 16""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- rendezvous-hash shard planning + reshard churn: assign every
    // document to one of 8 shards by HRW, then measure how many move
    // when a 9th shard joins. Per shard: population, movers, and an
    // id_sum membership pin. The per-row cost is a k-term integer fold
    // (codegen, no shuffle); the only exchange is the 8-key final agg.
    // At 100 TB this is the partition-pruning layout job: HRW keeps
    // ~8/9 of the corpus in place, so the reshard rewrite is 11% of
    // the data, not 89% as with mod-N.
    QueryDef(
      "q194_shard_rendezvous",
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            expr(hrwSpark("doc_id", 8)).as("shard"),
            expr(hrwSpark("doc_id", 9)).as("__shard9"),
            col("doc_id"))
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("__shard9") =!= col("shard"), 1L).otherwise(0L))
              .as("n_moved"),
            sum("doc_id").as("id_sum")),
      Some(s"""
        WITH a AS (
          SELECT doc_id,
                 ${hrwDuck("doc_id", 8)} AS shard,
                 ${hrwDuck("doc_id", 9)} AS shard9
          FROM documents)
        SELECT shard, count(*) AS n_docs,
               CAST(sum(CASE WHEN shard9 <> shard THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM a GROUP BY shard""")),

    // ---- collation-aware grouping (Spark 4 UTF8_LCASE): group a
    // mixed-case source key case-insensitively WITHOUT pre-lowering the
    // grouping expression — the collation travels in the string type,
    // and the hash aggregate's key comparison honors it. The emitted
    // key is lower(k), which is constant across each collation group,
    // so the output is deterministic even though the group's
    // representative value is not. Oracle: plain lower() grouping.
    QueryDef(
      "q195_collation_group",
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            expr("""collate(CASE WHEN doc_id % 2 = 0 THEN upper(source)
                                 ELSE source END, 'UTF8_LCASE')""").as("k"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
          .select(
            lower(col("k").cast("string")).as("source_lc"),
            col("n_docs"), col("id_sum")),
      Some("""
        SELECT lower(CASE WHEN doc_id % 2 = 0 THEN upper(source)
                          ELSE source END) AS source_lc,
               count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1""")),

    // ---- small-file compaction planner: files (simulated as
    // 100-order lineitem slabs) are packed, IN KEY ORDER, into bins of
    // ~8192 rows by cutting the running total — order-preserving
    // packing keeps min/max key ranges tight so data-skipping still
    // prunes after the rewrite. Real file manifests are bounded
    // (thousands of rows at 100 TB), but the harness models the
    // manifest as l_orderkey/100 — data-scaled ÷100 — so the running
    // total goes through ScalableRank.withPrefixSum (round-11 verdict
    // item 4): the only window is partition-LOCAL keyed by the range
    // id, bit-identical to the global form, and the plan no longer
    // carries the one unpartitioned window whose input grew with SF
    // at all. The plan's only data-sized pass is the per-file row
    // count.
    QueryDef(
      "q196_compaction_plan",
      (s, d) => {
        val files = Tables(s, d, "lineitem")
          .groupBy((col("l_orderkey") / 100).cast("long").as("file_id"))
          .agg(count(lit(1)).as("n_rows"))
        graft.operators.ScalableRank
          .withPrefixSum(files, Seq(col("file_id")), col("n_rows"), "__cum")
          .withColumn("bin",
            ((col("__cum") - col("n_rows")) / 8192L).cast("long"))
          .groupBy("bin")
          .agg(
            count(lit(1)).as("n_files"),
            sum("n_rows").as("total_rows"),
            min("file_id").as("min_file"),
            max("file_id").as("max_file"))
      },
      Some("""
        WITH files AS (
          SELECT CAST(l_orderkey // 100 AS BIGINT) AS file_id,
                 count(*) AS n_rows
          FROM lineitem GROUP BY 1),
        planned AS (
          SELECT file_id, n_rows,
                 CAST((sum(n_rows) OVER (ORDER BY file_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_rows) // 8192 AS BIGINT) AS bin
          FROM files)
        SELECT bin, count(*) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS total_rows,
               min(file_id) AS min_file, max(file_id) AS max_file
        FROM planned GROUP BY bin""")),

    // ---- mergeable moment states: per-source (n, Σx, Σx²) over
    // n_chars — integer-exact, so merging the per-source states into a
    // global (sum of sums) is bit-equal to aggregating the raw rows.
    // The output carries each source's state-derived mean/variance plus
    // an __ALL__ row derived ONLY from the merged states (the Spark
    // side literally re-aggregates its own agg output — the same
    // algebra a partial/final hash aggregate runs between map and
    // reduce). Variance via the q178 decimal recipe: products in
    // DECIMAL(38,0), one cast to DOUBLE, round 6.
    QueryDef(
      "q197_welford_merge",
      (s, d) => {
        val st = Tables(s, d, "documents")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n"),
            sum("n_chars").as("s1"),
            sum(expr("n_chars * n_chars")).as("s2"))
        val merged = st
          .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"))
          .withColumn("source", lit("__ALL__"))
          .select("source", "n", "s1", "s2")
        st.unionByName(merged)
          .select(
            col("source"), col("n"),
            expr("round(CAST(s1 AS DOUBLE) / n, 6)").as("mean_chars"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * s2
                     - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                / (CAST(n AS DOUBLE) * n), 6)""").as("var_chars"))
      },
      Some("""
        WITH st AS (
          SELECT source, count(*) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s1,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
          FROM documents GROUP BY source),
        merged_st AS (
          SELECT * FROM st
          UNION ALL
          SELECT '__ALL__', CAST(sum(n) AS BIGINT),
                 CAST(sum(s1) AS BIGINT), CAST(sum(s2) AS BIGINT)
          FROM st)
        SELECT source, n,
               round(CAST(s1 AS DOUBLE) / n, 6) AS mean_chars,
               round(CAST(CAST(n AS DECIMAL(38,0)) * s2
                          - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n), 6) AS var_chars
        FROM merged_st""")),

    // ---- 30-day rolling Pearson correlation between daily order count
    // and daily revenue: the drift monitor for "are bigger days still
    // proportionally bigger". Day series first (one keyed agg: ~hundreds
    // of rows at any SF), then ONE window pass accumulating the five
    // integer moments over a 30-row frame; revenue in whole-dollar
    // units keeps every product inside DECIMAL(38,0) at any scale.
    // Emits only full frames (row 30 onward) so every correlation is a
    // true 30-day statistic.
    QueryDef(
      "q198_rolling_corr",
      (s, d) => {
        val daily = Tables(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(
            count(lit(1)).as("x"),
            expr("CAST(round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0) AS BIGINT)")
              .as("y"))
        val w = Window.orderBy("day").rowsBetween(-29, 0)
        daily
          .select(
            col("day"),
            count(lit(1)).over(w).as("n"),
            sum("x").over(w).as("sx"),
            sum("y").over(w).as("sy"),
            sum(expr("x * x")).over(w).as("sxx"),
            sum(expr("y * y")).over(w).as("syy"),
            sum(expr("x * y")).over(w).as("sxy"))
          .where(col("n") === 30)
          .select(
            col("day"),
            expr("""round(
                CAST(CAST(n AS DECIMAL(38,0)) * sxy
                     - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                             - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
                   * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
                               - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))),
                6)""").as("corr30"))
      },
      Some("""
        WITH daily AS (
          SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                 count(*) AS x,
                 CAST(round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0)
                      AS BIGINT) AS y
          FROM orders GROUP BY 1),
        rolled AS (
          SELECT day,
                 count(*) OVER w AS n,
                 sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                 sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
                 sum(x * y) OVER w AS sxy
          FROM daily
          WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        SELECT day,
               round(
                 CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                              - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
                    * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy
                                - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))),
                 6) AS corr30
        FROM rolled WHERE n = 30""")),
  )
}
