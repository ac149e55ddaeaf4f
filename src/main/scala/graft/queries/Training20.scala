package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Twentieth wave: planner/curator decision tables. q217 is the
  * vocabulary coverage curve (what share of all tokens do the top-k
  * types cover — the table a tokenizer budget is set from). q218 is
  * correlated-sampling join cardinality estimation: sample BOTH join
  * sides by the same hash of the join key, join the samples, scale up
  * — the join-synopsis trick that works where independent Bernoulli
  * sampling collapses (sampling p² of the edges), and the estimate a
  * cost-based optimizer would consume. q219 is Neyman allocation:
  * distribute a 100-unit sample budget across strata ∝ N_h·σ_h with
  * deterministic largest-remainder rounding. q220 is the snapshot diff
  * (insert/update/delete/noop census between two table versions) — the
  * CDC primitive behind every incremental pipeline.
  *
  * Scale shapes: q217's cumulative window runs over the ranked VOCAB
  * dictionary, never raw tokens (the one data-sized pass is the word
  * count); q218 pushes the hash predicate into both scans, so the
  * sampled join touches 1/16 of each side; q219 windows over the
  * |strata| table; q220 is one full-outer shuffle join on the key.
  */
object Training20 {
  val defs: Seq[QueryDef] = Seq(

    // ---- vocabulary coverage curve: share of total token mass covered
    // by the top-{10,100,1000} word types (rank by count desc, word —
    // tie-free). The ranked dictionary is vocabulary-sized; its
    // cumulative window is metadata work, and the share is an exact
    // BIGINT ratio rounded at the end.
    QueryDef(
      "q217_vocab_coverage",
      (s, d) => {
        val vocab = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // rank pass + totals share one explode
        // two-phase rank: the vocabulary is corpus-derived (Heaps' law
        // — ~10^8 words at 100 TB), too big for a global row_number's
        // single task
        val ranked = graft.operators.ScalableRank
          .withRowNumber(vocab, Seq(col("n").desc, col("word").asc), "rk")
        val ks = Seq(10, 100, 1000)
        val total = vocab.agg(sum("n").as("total_tokens"),
          count(lit(1)).as("vocab_size"))
        ranked
          .crossJoin(broadcast(
            total.select(explode(lit(ks.toArray)).as("k"),
              col("total_tokens"), col("vocab_size"))))
          .where(col("rk") <= col("k"))
          .groupBy("k", "total_tokens", "vocab_size")
          .agg(sum("n").as("covered_tokens"))
          .select(col("k"), col("covered_tokens"), col("total_tokens"),
            col("vocab_size"),
            expr("round(CAST(covered_tokens AS DOUBLE) / total_tokens, 6)")
              .as("share"))
      },
      Some("""
        WITH vocab AS (
          SELECT word, count(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents) w
          GROUP BY word),
        ranked AS (
          SELECT word, n,
                 row_number() OVER (ORDER BY n DESC, word) AS rk
          FROM vocab),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
                 count(*) AS vocab_size
          FROM vocab)
        SELECT k, CAST(sum(n) AS BIGINT) AS covered_tokens,
               total_tokens, vocab_size,
               round(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / total_tokens, 6)
                 AS share
        FROM ranked, tot, (SELECT unnest([10, 100, 1000]) AS k) ks
        WHERE rk <= k
        GROUP BY k, total_tokens, vocab_size""")),

    // ---- correlated-sampling join cardinality estimate: keep the
    // key-space slice hash60(custkey) % 16 = 0 on BOTH sides of
    // orders ⋈ customer, join the slices, scale by 16. Because both
    // sides sample the SAME key slice, every join edge whose key
    // falls in the slice survives — the estimator is unbiased over
    // key slices (independent row sampling would keep only p² of
    // edges). The hash predicate sits on both scans, so the sampled
    // join reads ~1/16 of each input; the true count (the audit
    // reference) is the only full-width pass.
    QueryDef(
      "q218_join_card_estimate",
      (s, d) => {
        def slice(df: DataFrame, key: String) =
          df.where(expr(s"${hash60Spark(s"cast($key as string)")} % 16 = 0"))
        val o = Tables(s, d, "orders").select("o_custkey")
        val c = Tables(s, d, "customer").select("c_custkey")
        val nTrue = o.join(c, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_true"))
        val nSamp = slice(o, "o_custkey")
          .join(slice(c, "c_custkey"), col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_sampled"))
        nTrue.crossJoin(nSamp).select(
          col("n_true"), col("n_sampled"),
          (col("n_sampled") * 16).as("n_estimated"),
          expr("""round(CAST(abs(n_sampled * 16 - n_true) AS DOUBLE)
                  / n_true, 6)""").as("rel_err"))
      },
      Some(s"""
        WITH o AS (SELECT o_custkey FROM orders),
        c AS (SELECT c_custkey FROM customer),
        tru AS (
          SELECT count(*) AS n_true
          FROM o JOIN c ON o_custkey = c_custkey),
        samp AS (
          SELECT count(*) AS n_sampled
          FROM (SELECT o_custkey FROM o
                WHERE ${hash60Duck("o_custkey::VARCHAR")} % 16 = 0) os
          JOIN (SELECT c_custkey FROM c
                WHERE ${hash60Duck("c_custkey::VARCHAR")} % 16 = 0) cs
            ON os.o_custkey = cs.c_custkey)
        SELECT CAST(n_true AS BIGINT) AS n_true,
               CAST(n_sampled AS BIGINT) AS n_sampled,
               CAST(n_sampled * 16 AS BIGINT) AS n_estimated,
               round(CAST(abs(n_sampled * 16 - n_true) AS DOUBLE) / n_true, 6)
                 AS rel_err
        FROM tru, samp""")),

    // ---- Neyman allocation of a 100-unit sample budget across
    // mktsegment strata, n_h ∝ N_h·σ_h: the allocation that minimizes
    // estimator variance for a fixed budget. σ from integer cent
    // moments (the q197 DECIMAL(38,0) recipe) rounded to 6 dp BEFORE
    // the weight product, so every subsequent double is bit-equal
    // cross-engine; integer seats via largest-remainder (floor + rank
    // of fractional parts, ties by segment — fully deterministic).
    // Window work runs over the |strata| table.
    QueryDef(
      "q219_neyman_allocation",
      (s, d) => {
        val st = Tables(s, d, "customer")
          .select(col("c_mktsegment").as("segment"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_h"),
            sum("cents").as("s1"),
            sum(expr("cents * cents")).as("s2"))
          .withColumn("sigma", expr(
            """round(sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * s2
              |              - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))
              | / n_h / 100.0, 6)""".stripMargin))
          // weight as EXACT decimal (6-dp sigma × integer N): the strata
          // sum must be order-independent — a double sum over the
          // shuffle's arbitrary stratum order would not be.
          .withColumn("w", expr("CAST(sigma AS DECIMAL(28,6)) * n_h"))
        val tot = st.agg(sum("w").as("w_tot"))
        val quotas = st.crossJoin(broadcast(tot))
          .withColumn("quota",
            expr("CAST(w AS DOUBLE) * 100.0 / CAST(w_tot AS DOUBLE)"))
          .withColumn("base", floor(col("quota")))
          .withColumn("frac", col("quota") - col("base"))
        val deficit = quotas.agg((lit(100) - sum("base")).as("extra"))
        quotas.crossJoin(broadcast(deficit))
          .withColumn("fr", row_number().over(
            Window.orderBy(col("frac").desc, col("segment"))))
          .select(col("segment"), col("n_h"), col("sigma"),
            (col("base") + when(col("fr") <= col("extra"), 1L).otherwise(0L))
              .cast("long").as("n_alloc"))
      },
      Some("""
        WITH st AS (
          SELECT c_mktsegment AS segment, count(*) AS n_h,
                 CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS s1,
                 CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                          * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS s2
          FROM customer GROUP BY 1),
        sig AS (
          SELECT segment, n_h,
                 round(sqrt(CAST(CAST(n_h AS DECIMAL(38,0)) * s2
                                 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))
                       / n_h / 100.0, 6) AS sigma
          FROM st),
        q AS (
          SELECT segment, n_h, sigma,
                 CAST(CAST(sigma AS DECIMAL(28,6)) * n_h AS DOUBLE) * 100.0
                   / CAST((SELECT sum(CAST(sigma AS DECIMAL(28,6)) * n_h)
                           FROM sig) AS DOUBLE) AS quota
          FROM sig),
        f AS (
          SELECT segment, n_h, sigma, floor(quota) AS base,
                 quota - floor(quota) AS frac
          FROM q),
        r AS (
          SELECT *, row_number() OVER (ORDER BY frac DESC, segment) AS fr,
                 (SELECT 100 - sum(base) FROM f) AS extra
          FROM f)
        SELECT segment, n_h, sigma,
               CAST(base + CASE WHEN fr <= extra THEN 1 ELSE 0 END AS BIGINT)
                 AS n_alloc
        FROM r""")),

    // ---- snapshot diff: census of inserts/updates/deletes/noops
    // between two derived order versions (v1 drops key%7=0, v2 drops
    // key%5=0 and reprices key%3=0 up one cent). One full-outer
    // shuffle join on the key, exact cents comparison; emits counts
    // plus a key-sum pin per change class — the CDC primitive and its
    // audit in one pass.
    QueryDef(
      "q220_snapshot_diff",
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val v1 = base.where(col("k") % 7 =!= 0)
          .select(col("k").as("k1"), col("cents").as("c1"))
        val v2 = base.where(col("k") % 5 =!= 0)
          .select(col("k").as("k2"),
            (col("cents") + when(col("k") % 3 === 0, 1L).otherwise(0L))
              .as("c2"))
        v1.join(v2, col("k1") === col("k2"), "full_outer")
          .select(
            when(col("k1").isNull, "I")
              .when(col("k2").isNull, "D")
              .when(col("c1") =!= col("c2"), "U")
              .otherwise("N").as("op"),
            coalesce(col("k1"), col("k2")).as("k"))
          .groupBy("op")
          .agg(count(lit(1)).as("n"), sum("k").as("key_sum"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        v1 AS (SELECT k AS k1, cents AS c1 FROM base WHERE k % 7 <> 0),
        v2 AS (SELECT k AS k2,
                      cents + CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS c2
               FROM base WHERE k % 5 <> 0)
        SELECT CASE WHEN k1 IS NULL THEN 'I'
                    WHEN k2 IS NULL THEN 'D'
                    WHEN c1 <> c2 THEN 'U'
                    ELSE 'N' END AS op,
               count(*) AS n,
               CAST(sum(coalesce(k1, k2)) AS BIGINT) AS key_sum
        FROM v1 FULL OUTER JOIN v2 ON k1 = k2
        GROUP BY 1""")),
  )
}
