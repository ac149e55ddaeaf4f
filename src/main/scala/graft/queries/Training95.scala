package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps

/** Ninety-fifth wave — frequency moments, randomization inference,
  * and matching estimators:
  *
  *  - q447: AMS F2 sketch (Alon–Matias–Szegedy, STOC'96) — the second
  *    frequency moment Σf² of the customer key stream (= the
  *    self-join size of orders on custkey, THE quantity a join-size
  *    estimator needs), estimated by 80 ±1-hash sign estimators
  *    (median of 5 means of 16 — the variance a 50% relative-error
  *    contract actually needs; a 16-estimator draft measured 66%
  *    error at sf0.001) computed as 80 sum(CASE) columns of
  *    ONE scan, against the exact Σf² witness; the relative-error
  *    contract is pinned TRUE like q32/q156. The 80-estimator
  *    1-row frame is checkpointed before the unpivot so Spark's CTE
  *    inlining can never multiply the fact scan (the q432 lesson);
  *    the DuckDB oracle marks the same CTEs MATERIALIZED.
  *  - q448: randomization (permutation) test for the BUILDING vs
  *    MACHINERY revenue gap — 64 deterministic hash-seeded Bernoulli
  *    relabelings (the Monte-Carlo variant of the exact permutation
  *    test; label shares preserved in expectation, documented), all
  *    256 replicate sums as columns of one scan; p = (1+extremes)/
  *    (K+1) in ppm.
  *  - q449: coarsened exact matching (Iacus–King–Porro) for the
  *    AUTOMOBILE-vs-HOUSEHOLD spending effect — covariates coarsened
  *    to (nation, order year, priority) strata, strata lacking either
  *    group dropped, CEM weights applied as exact integer
  *    cross-multiplied per-stratum contributions, ATT in micro-cents
  *    plus matched/dropped censuses.
  */
object Training95 {
  private def h60(spark: Boolean, e: String): String =
    if (spark) TextOps.hash60Spark(e) else TextOps.hash60Duck(e)
  private def cat(spark: Boolean)(a: String, b: String): String =
    if (spark) s"concat($a, $b)" else s"$a || $b"

  // ---- q447 stages. 80 independent ±1 signs come from the BITS of
  // two 60-bit hashes per row (2 md5 calls, not 80 — a per-estimator
  // hash draft measured 14.5 s at sf0.1; bit-sliced it is one scan).
  private def amsSumsSql(spark: Boolean, ordersRel: String): String = {
    val keyStr = if (spark) "cast(o_custkey as string)" else "CAST(o_custkey AS VARCHAR)"
    val idiv = if (spark) "div" else "//"
    val signs = (0 until 80).map { j =>
      val (h, bit) = (j / 60, j % 60)
      s"""CAST(sum(CASE WHEN (h$h $idiv ${1L << bit}) % 2 = 0
           THEN 1 ELSE -1 END) AS BIGINT) AS x$j"""
    }.mkString(",\n               ")
    val hashes = (0 to 1).map(h =>
      s"${h60(spark, cat(spark)(s"'ams:$h:'", keyStr))} AS h$h").mkString(", ")
    s"SELECT $signs FROM (SELECT $hashes FROM $ordersRel) hashed"
  }
  private def amsRestSql(spark: Boolean, sumsRel: String, ordersRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val unpivot = (0 until 80)
      .map(j => s"SELECT $j AS j, x$j AS x FROM $sumsRel")
      .mkString(" UNION ALL ")
    s"""
      WITH est AS (SELECT j, x * x AS e FROM ($unpivot) u),
      means AS (
        SELECT j $idiv 16 AS grp, CAST(sum(e) $idiv 16 AS BIGINT) AS m
        FROM est GROUP BY 1),
      med AS (
        SELECT m AS est_f2 FROM (
          SELECT m, row_number() OVER (ORDER BY m, grp) AS rn FROM means) r
        WHERE rn = 3),
      exact AS (
        SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM (
          SELECT count(*) AS c FROM $ordersRel GROUP BY o_custkey) f)
      SELECT e.exact_f2, m.est_f2,
             CAST((abs(m.est_f2 - e.exact_f2) * 1000000) $idiv e.exact_f2 AS BIGINT)
               AS rel_err_ppm,
             CAST(CASE WHEN (abs(m.est_f2 - e.exact_f2) * 1000000) $idiv e.exact_f2
                       <= 500000 THEN 1 ELSE 0 END AS INT) AS in_bound
      FROM exact e, med m"""
  }

  // ---- q448 stages
  private def permPopSql(ordersRel: String, custRel: String): String = s"""
    SELECT CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
           o.o_orderkey,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp_a
    FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')"""
  private def permObsSql(popRel: String): String = s"""
    SELECT CAST(sum(CASE WHEN grp_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS sa,
           CAST(SUM(CASE WHEN grp_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN grp_a = 0 THEN cents ELSE 0 END) AS BIGINT) AS sb,
           CAST(SUM(CASE WHEN grp_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
    FROM $popRel"""
  /** q448 replicates: each 60-bit hash yields THREE independent 20-bit
    * relabel draws (resolution 2^-20), so 64 replicates cost 22 md5
    * calls per row instead of 64.
    */
  private def permRepsSql(spark: Boolean, popRel: String, obsRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val keyStr = if (spark) "cast(o_orderkey as string)" else "CAST(o_orderkey AS VARCHAR)"
    val reps = (0 until 64).flatMap { k =>
      val (h, slot) = (k / 3, k % 3)
      val flip = s"((h$h $idiv ${1L << (20 * slot)}) % 1048576) < share_a_b20"
      Seq(
        s"CAST(sum(CASE WHEN $flip THEN cents ELSE 0 END) AS BIGINT) AS sa$k",
        s"CAST(SUM(CASE WHEN $flip THEN 1 ELSE 0 END) AS BIGINT) AS na$k",
        s"CAST(sum(CASE WHEN NOT ($flip) THEN cents ELSE 0 END) AS BIGINT) AS sb$k",
        s"CAST(SUM(CASE WHEN NOT ($flip) THEN 1 ELSE 0 END) AS BIGINT) AS nb$k")
    }.mkString(",\n           ")
    val hashes = (0 to 21).map(h =>
      s"${h60(spark, cat(spark)(s"'perm:$h:'", keyStr))} AS h$h").mkString(", ")
    s"""
      SELECT $reps
      FROM (SELECT cents, $hashes FROM $popRel) hashed,
           (SELECT (na * 1048576) $idiv (na + nb) AS share_a_b20 FROM $obsRel) sh"""
  }
  private def permRestSql(spark: Boolean, repsRel: String, obsRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val unpivot = (0 until 64)
      .map(k => s"SELECT $k AS k, sa$k AS sa, na$k AS na, sb$k AS sb, nb$k AS nb FROM $repsRel")
      .mkString(" UNION ALL ")
    s"""
      WITH stats AS (
        SELECT k, abs((sa * 1000000) $idiv na - (sb * 1000000) $idiv nb) AS stat
        FROM ($unpivot) u WHERE na > 0 AND nb > 0),
      obstat AS (
        SELECT abs((sa * 1000000) $idiv na - (sb * 1000000) $idiv nb) AS stat_obs,
               na, nb
        FROM $obsRel)
      SELECT o.stat_obs AS stat_obs_micro, o.na AS n_a, o.nb AS n_b,
             CAST(count(*) AS BIGINT) AS k_reps,
             CAST(SUM(CASE WHEN s.stat >= o.stat_obs THEN 1 ELSE 0 END) AS BIGINT)
               AS n_extreme,
             CAST(((1 + SUM(CASE WHEN s.stat >= o.stat_obs THEN 1 ELSE 0 END))
                   * 1000000) $idiv (count(*) + 1) AS BIGINT) AS p_ppm
      FROM stats s CROSS JOIN obstat o
      GROUP BY o.stat_obs, o.na, o.nb"""
  }

  // ---- q449 stages
  private def cemStrataSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val yr = if (spark) "year(o.o_orderdate)" else "EXTRACT(year FROM o.o_orderdate)"
    s"""
      SELECT nation, yy, pri,
             CAST(SUM(treated) AS BIGINT) AS mt,
             CAST(SUM(1 - treated) AS BIGINT) AS mc,
             CAST(sum(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
             CAST(sum(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc
      FROM (
        SELECT c.c_nationkey AS nation, $yr AS yy, o.o_orderpriority AS pri,
               CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS treated,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')) pop
      GROUP BY 1, 2, 3"""
  }
  private def cemRestSql(spark: Boolean, strataRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      WITH matched AS (SELECT * FROM $strataRel WHERE mt > 0 AND mc > 0),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(mt) AS BIGINT) AS m_t, CAST(sum(mc) AS BIGINT) AS m_c,
               CAST(sum(st) AS BIGINT) AS s_t
        FROM matched),
      ctrl AS (
        SELECT CAST(sum((m.sc * m.mt * 1000000) $idiv (m.mc * t.m_t)) AS BIGINT)
                 AS wmean_c_micro
        FROM matched m CROSS JOIN tot t),
      unmatched AS (
        SELECT CAST(coalesce(sum(CASE WHEN mc = 0 THEN mt ELSE 0 END), 0) AS BIGINT)
                 AS t_dropped
        FROM $strataRel)
      SELECT t.n_strata, t.m_t AS n_treated_matched, t.m_c AS n_control_matched,
             u.t_dropped AS n_treated_dropped,
             CAST((t.s_t * 1000000) $idiv t.m_t - c.wmean_c_micro AS BIGINT)
               AS att_micro_cents
      FROM tot t, ctrl c, unmatched u"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q447_ams_f2_sketch",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ams_orders")
        s.sql(amsSumsSql(spark = true, "graft_ams_orders"))
          .localCheckpoint() // 1 row × 16 estimators; unpivot re-reads it
          .createOrReplaceTempView("graft_ams_sums")
        s.sql(amsRestSql(spark = true, "graft_ams_sums", "graft_ams_orders"))
      },
      Some(s"""
        WITH ams_sums AS MATERIALIZED (${amsSumsSql(spark = false, "orders")}),
        rest AS (${amsRestSql(spark = false, "ams_sums", "orders").replaceFirst("\\s*WITH", "WITH")})
        SELECT * FROM rest""")),

    QueryDef(
      "q448_permutation_test",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_pt_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_pt_customer")
        s.sql(permPopSql("graft_pt_orders", "graft_pt_customer"))
          .createOrReplaceTempView("graft_pt_pop")
        s.sql(permObsSql("graft_pt_pop"))
          .localCheckpoint() // 1 row; read by shares, replicates, final
          .createOrReplaceTempView("graft_pt_obs")
        s.sql(permRepsSql(spark = true, "graft_pt_pop", "graft_pt_obs"))
          .localCheckpoint() // 1 row × 256 replicate sums
          .createOrReplaceTempView("graft_pt_reps")
        s.sql(permRestSql(spark = true, "graft_pt_reps", "graft_pt_obs"))
      },
      Some(s"""
        WITH pop AS MATERIALIZED (${permPopSql("orders", "customer")}),
        obs AS MATERIALIZED (${permObsSql("pop")}),
        reps AS MATERIALIZED (${permRepsSql(spark = false, "pop", "obs")}),
        rest AS (${permRestSql(spark = false, "reps", "obs")})
        SELECT * FROM rest""")),

    QueryDef(
      "q449_coarsened_exact_matching",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_cem_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_cem_customer")
        s.sql(cemStrataSql(spark = true, "graft_cem_orders", "graft_cem_customer"))
          .localCheckpoint() // stratum dictionary; read by 2 aggs
          .createOrReplaceTempView("graft_cem_strata")
        s.sql(cemRestSql(spark = true, "graft_cem_strata"))
      },
      Some(s"""
        WITH cem_strata AS MATERIALIZED (
          ${cemStrataSql(spark = false, "orders", "customer")}),
        rest AS (${cemRestSql(spark = false, "cem_strata")})
        SELECT * FROM rest""")),
  )
}
