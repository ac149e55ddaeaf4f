package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{Iterate, QueryDef, Tables}

/** Ninety-ninth wave — round-based algorithm classics, each an iterative
  * keyed-join loop on the Spark side (per-round `Iterate.ckpt`: lineage
  * AND stats reset, constant planning cost) mirrored by chained
  * MATERIALIZED CTEs in the oracle:
  *
  *  - q459: Gale–Shapley stable matching (deferred acceptance) between
  *    market segments (proposers; preference = avg order value by
  *    priority, the q456 profile) and order priorities (reviewers;
  *    preference = order count by segment). Simultaneous-proposal
  *    rounds; a proposer's pointer advances only on rejection, so ≤
  *    n(n−1) advances total and 25 rounds are terminal for n = 5. The
  *    output carries the blocking-pair census (must be 0 — THE
  *    stability certificate, independently re-proven by the spec).
  *  - q460: Huffman code lengths over the nation dictionary (weight =
  *    order count). 24 deterministic merge rounds (two smallest by
  *    (weight, root-id)); a membership table tracks each leaf's depth.
  *    Kraft equality Σ 2^(24−len) = 2^24 is emitted as a column — the
  *    prefix-code witness the oracle pins exactly.
  *  - q461: dynamic time warping between the 1996 and 1997 monthly
  *    revenue curves — the 12×12 DP grid filled along 23 anti-diagonal
  *    waves (each cell needs only the previous two diagonals).
  *    Lockstep (diagonal-path) distance rides along: DTW ≤ lockstep by
  *    construction, pinned in the spec.
  */
object Training99 {
  // ---------------------------------------------------------------- q459

  /** Shared preference tables: propPref(prop, rk, rev) — segment ranks
    * priorities by integer avg order value desc; revRank(rev, prop,
    * rrank) — priority ranks segments by order count desc.
    */
  private def gsBaseSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      joined AS $mat(
        SELECT c.c_mktsegment AS prop, o.o_orderpriority AS rev,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey),
      ppref AS $mat(
        SELECT prop, rev,
               CAST(row_number() OVER (PARTITION BY prop
                 ORDER BY (sum(cents) * 1000000) $idiv count(*) DESC, rev)
                 AS BIGINT) AS rk
        FROM joined GROUP BY prop, rev),
      rrank AS $mat(
        SELECT rev, prop,
               CAST(row_number() OVER (PARTITION BY rev
                 ORDER BY count(*) DESC, prop) AS BIGINT) AS rr
        FROM joined GROUP BY rev, prop)"""
  }

  /** One deferred-acceptance round: every proposer targets pref[ptr];
    * each reviewer keeps the proposer it ranks best; losers advance.
    */
  private def gsRoundSql(stateRel: String, pprefRel: String, rrankRel: String): String =
    s"""
      SELECT w.prop,
             CASE WHEN w.wr = 1 THEN w.ptr ELSE w.ptr + 1 END AS ptr,
             CASE WHEN w.wr = 1 THEN 1 ELSE 0 END AS held
      FROM (
        SELECT s.prop, s.ptr, pp.rev,
               row_number() OVER (PARTITION BY pp.rev ORDER BY rr.rr) AS wr
        FROM $stateRel s
        JOIN $pprefRel pp ON pp.prop = s.prop AND pp.rk = s.ptr
        JOIN $rrankRel rr ON rr.rev = pp.rev AND rr.prop = s.prop) w"""

  /** Final projection: the matching with both sides' ranks and the
    * blocking-pair census (0 = stable).
    */
  private def gsFinalSql(stateRel: String, pprefRel: String, rrankRel: String): String =
    s"""
      matched AS (
        SELECT s.prop, pp.rev, s.ptr AS prop_rank, rr.rr AS rev_rank
        FROM $stateRel s
        JOIN $pprefRel pp ON pp.prop = s.prop AND pp.rk = s.ptr
        JOIN $rrankRel rr ON rr.rev = pp.rev AND rr.prop = s.prop),
      blocking AS (
        SELECT CAST(count(*) AS BIGINT) AS nb
        FROM $pprefRel pp
        JOIN $rrankRel rr ON rr.rev = pp.rev AND rr.prop = pp.prop
        JOIN matched mp ON mp.prop = pp.prop
        JOIN matched mr ON mr.rev = pp.rev
        WHERE pp.rk < mp.prop_rank AND rr.rr < mr.rev_rank)
      SELECT m.prop, m.rev, m.prop_rank, m.rev_rank,
             (SELECT max(nb) FROM blocking) AS n_blocking
      FROM matched m ORDER BY m.prop"""

  // ---------------------------------------------------------------- q460

  /** Leaf alphabet is the FULL nation dictionary (left join, weight 0
    * when a nation placed no orders) so the merge count is exactly 24 on
    * both engines at every scale factor.
    */
  private def huffBaseSql(spark: Boolean, ordersRel: String, custRel: String, nationRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      leaves AS $mat(
        SELECT n.n_nationkey AS leaf, CAST(coalesce(cnt.c, 0) AS BIGINT) AS w
        FROM $nationRel n
        LEFT JOIN (
          SELECT c.c_nationkey AS nk, count(*) AS c
          FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
          GROUP BY c.c_nationkey) cnt ON cnt.nk = n.n_nationkey),
      roots0 AS (SELECT leaf AS rid, w FROM leaves),
      memb0 AS (SELECT leaf, leaf AS rid, CAST(0 AS BIGINT) AS depth FROM leaves)"""
  }

  /** One Huffman merge round: the two smallest roots by (w, rid) fuse
    * into min(rid); their leaves gain one bit of depth.
    */
  private def huffRoundSql(spark: Boolean, r: Int, rootsPrev: String, membPrev: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      rk$r AS (SELECT rid, w, row_number() OVER (ORDER BY w, rid) AS rk
               FROM $rootsPrev),
      mg$r AS $mat(
        SELECT rid, (SELECT min(rid) FROM rk$r WHERE rk <= 2) AS nrid
        FROM rk$r WHERE rk <= 2),
      roots$r AS $mat(
        SELECT rid, w FROM rk$r WHERE rk > 2
        UNION ALL
        SELECT CAST((SELECT min(rid) FROM rk$r WHERE rk <= 2) AS BIGINT) AS rid,
               CAST((SELECT sum(w) FROM rk$r WHERE rk <= 2) AS BIGINT) AS w),
      memb$r AS $mat(
        SELECT m.leaf, CAST(coalesce(g.nrid, m.rid) AS BIGINT) AS rid,
               m.depth + CASE WHEN g.rid IS NULL THEN 0 ELSE 1 END AS depth
        FROM $membPrev m LEFT JOIN mg$r g ON g.rid = m.rid)"""
  }

  private def huffFinalSql(spark: Boolean, membFinal: String, nationRel: String): String = {
    val shl = if (spark) "shiftleft(CAST(1 AS BIGINT), CAST(24 - m.depth AS INT))"
      else "(CAST(1 AS BIGINT) << CAST(24 - m.depth AS INTEGER))"
    s"""
      SELECT n.n_name, l.w, m.depth AS code_len,
             CAST(l.w * m.depth AS BIGINT) AS wbits,
             CAST(sum(l.w * m.depth) OVER () AS BIGINT) AS total_bits,
             CAST(sum($shl) OVER () AS BIGINT) AS kraft_scaled
      FROM $membFinal m
      JOIN leaves l ON l.leaf = m.leaf
      JOIN $nationRel n ON n.n_nationkey = m.leaf
      ORDER BY n.n_name"""
  }

  // ---------------------------------------------------------------- q461

  private def dtwBaseSql(spark: Boolean, ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      sa AS $mat(
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS v
        FROM $ordersRel WHERE year(o_orderdate) = 1996 GROUP BY 1),
      sb AS $mat(
        SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS v
        FROM $ordersRel WHERE year(o_orderdate) = 1997 GROUP BY 1),
      cells0 AS (SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
                        CAST(0 AS BIGINT) AS c FROM sa WHERE 1 = 0)"""
  }

  /** Anti-diagonal wave d: fill every in-grid cell with i + j = d + 1
    * from the previous two diagonals ((1,1) is the seeded corner).
    */
  private def dtwRoundSql(d: Int, saRel: String, sbRel: String, cellsPrev: String): String =
    s"""
      SELECT i, j, c FROM $cellsPrev
      UNION ALL
      SELECT a.m AS i, b.m AS j,
             abs(a.v - b.v) +
             CASE WHEN a.m = 1 AND b.m = 1 THEN CAST(0 AS BIGINT)
                  ELSE least(coalesce(p1.c, CAST(4611686018427387904 AS BIGINT)),
                             coalesce(p2.c, CAST(4611686018427387904 AS BIGINT)),
                             coalesce(p3.c, CAST(4611686018427387904 AS BIGINT)))
             END AS c
      FROM $saRel a JOIN $sbRel b ON a.m + b.m = $d + 1
      LEFT JOIN $cellsPrev p1 ON p1.i = a.m - 1 AND p1.j = b.m
      LEFT JOIN $cellsPrev p2 ON p2.i = a.m AND p2.j = b.m - 1
      LEFT JOIN $cellsPrev p3 ON p3.i = a.m - 1 AND p3.j = b.m - 1"""

  private def dtwFinalSql(saRel: String, sbRel: String, cellsRel: String): String =
    s"""
      SELECT c.j, c.c AS row_cost,
             (SELECT max(c2.c) FROM $cellsRel c2 WHERE c2.i = 12 AND c2.j = 12)
               AS dtw_dist,
             (SELECT CAST(sum(abs(a.v - b.v)) AS BIGINT)
              FROM $saRel a JOIN $sbRel b ON a.m = b.m) AS lockstep_dist
      FROM $cellsRel c WHERE c.i = 12 ORDER BY c.j"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q459_stable_matching",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_gs_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_gs_customer")
        val base = gsBaseSql(spark = true, "graft_gs_orders", "graft_gs_customer")
        val ppref = Iterate.ckpt(s.sql(
          s"WITH $base SELECT * FROM ppref").coalesce(1))
        val rrank = Iterate.ckpt(s.sql(
          s"WITH $base SELECT * FROM rrank").coalesce(1))
        ppref.createOrReplaceTempView("graft_gs_ppref")
        rrank.createOrReplaceTempView("graft_gs_rrank")
        var state = Iterate.ckpt(s.sql(
          """SELECT prop, CAST(1 AS BIGINT) AS ptr, 0 AS held
             FROM graft_gs_ppref GROUP BY prop""").coalesce(1))
        var round = 0
        // once every proposer is held the matching is final (each holder
        // is its reviewer's unique proposer next round) — early-exit; the
        // oracle's fixed 25 rounds are no-ops past this point.
        while (round < 25 && state.filter("held = 0").count() > 0) {
          state.createOrReplaceTempView("graft_gs_state")
          state = Iterate.ckpt(s.sql(
            gsRoundSql("graft_gs_state", "graft_gs_ppref", "graft_gs_rrank"))
            .coalesce(1))
          round += 1
        }
        state.createOrReplaceTempView("graft_gs_final")
        s.sql("WITH " + gsFinalSql(
          "graft_gs_final", "graft_gs_ppref", "graft_gs_rrank").stripPrefix("\n"))
      },
      Some {
        val base = gsBaseSql(spark = false, "orders", "customer")
        val rounds = (1 to 25).map { r =>
          s"st$r AS MATERIALIZED (${gsRoundSql(s"st${r - 1}", "ppref", "rrank")})"
        }.mkString(",\n")
        s"""
          WITH $base,
          st0 AS (SELECT prop, CAST(1 AS BIGINT) AS ptr, 0 AS held
                  FROM ppref GROUP BY prop),
          $rounds,
          ${gsFinalSql("st25", "ppref", "rrank")}"""
      }),

    QueryDef(
      "q460_huffman_lengths",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_hf_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_hf_customer")
        Tables(s, d, "nation").createOrReplaceTempView("graft_hf_nation")
        val base = huffBaseSql(spark = true, "graft_hf_orders", "graft_hf_customer", "graft_hf_nation")
        val leaves = Iterate.ckpt(s.sql(s"WITH $base SELECT * FROM roots0").coalesce(1))
        leaves.createOrReplaceTempView("graft_hf_leaves")
        var roots = leaves
        var memb = Iterate.ckpt(s.sql(
          "SELECT rid AS leaf, rid, CAST(0 AS BIGINT) AS depth FROM graft_hf_leaves")
          .coalesce(1))
        val n = roots.count().toInt
        for (r <- 1 to n - 1) {
          roots.createOrReplaceTempView("graft_hf_roots")
          memb.createOrReplaceTempView("graft_hf_memb")
          val round = huffRoundSql(spark = true, r, "graft_hf_roots", "graft_hf_memb")
          roots = Iterate.ckpt(s.sql(s"WITH $round SELECT * FROM roots$r").coalesce(1))
          memb = Iterate.ckpt(s.sql(s"WITH $round SELECT * FROM memb$r").coalesce(1))
        }
        memb.createOrReplaceTempView("graft_hf_membF")
        s.sql("WITH leaves AS (SELECT rid AS leaf, w FROM graft_hf_leaves) " +
          huffFinalSql(spark = true, "graft_hf_membF", "graft_hf_nation"))
      },
      Some {
        val base = huffBaseSql(spark = false, "orders", "customer", "nation")
        // 24 merge rounds for the 25-nation alphabet
        val rounds = (1 to 24).map(r =>
          huffRoundSql(spark = false, r, s"roots${r - 1}", s"memb${r - 1}")).mkString(",\n")
        s"""
          WITH $base,
          $rounds
          ${huffFinalSql(spark = false, "memb24", "nation")}"""
      }),

    QueryDef(
      "q461_dtw_alignment",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_dtw_orders")
        val base = dtwBaseSql(spark = true, "graft_dtw_orders")
        val sa = Iterate.ckpt(s.sql(s"WITH $base SELECT * FROM sa").coalesce(1))
        val sb = Iterate.ckpt(s.sql(s"WITH $base SELECT * FROM sb").coalesce(1))
        sa.createOrReplaceTempView("graft_dtw_sa")
        sb.createOrReplaceTempView("graft_dtw_sb")
        var cells = Iterate.ckpt(s.sql(
          """SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
                    CAST(0 AS BIGINT) AS c FROM graft_dtw_sa WHERE 1 = 0""").coalesce(1))
        for (dg <- 1 to 23) {
          cells.createOrReplaceTempView("graft_dtw_cells")
          cells = Iterate.ckpt(
            s.sql(dtwRoundSql(dg, "graft_dtw_sa", "graft_dtw_sb", "graft_dtw_cells"))
              .coalesce(1))
        }
        cells.createOrReplaceTempView("graft_dtw_cellsF")
        s.sql(dtwFinalSql("graft_dtw_sa", "graft_dtw_sb", "graft_dtw_cellsF"))
      },
      Some {
        val rounds = (1 to 23).map(dg =>
          s"cells$dg AS MATERIALIZED (${dtwRoundSql(dg, "sa", "sb", s"cells${dg - 1}")})")
          .mkString(",\n")
        s"""
          WITH ${dtwBaseSql(spark = false, "orders")},
          $rounds
          ${dtwFinalSql("sa", "sb", "cells23")}"""
      }),
  )
}
