package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{Iterate, QueryDef, Tables}

/** Hundredth wave — allocation and reconciliation machinery:
  *
  *  - q462: FIFO inventory lot matching — odd line numbers are receipt
  *    lots (ordered by ship date), even ones are demand draws (same
  *    ship-date ordering); the classic cumulative-interval trick turns
  *    sequential first-in-first-out consumption into ONE set-based
  *    range join: lot [lo, hi) matches draw [lo, hi) where the
  *    cumulative intervals overlap, matched qty = min(hi) − max(lo).
  *    Per-brand fill/leftover/unfilled censuses ride on the min(supply,
  *    demand) law. Scale shape: windows are keyed cumsums; the overlap
  *    join is per-part bounded (each lot overlaps O(1) draws amortized
  *    — pair count ≤ lots + draws per part), so total work is linear
  *    in lineitems, shuffled once on l_partkey.
  *  - q463: iterative proportional fitting (raking) of the segment ×
  *    nation customer contingency table to uniform target marginals —
  *    10 alternating half-rounds of keyed window scaling in exact
  *    integer ppm (floor-div; zero rows/columns guarded and preserved,
  *    as IPF does). The survey-weighting classic.
  *  - q464: exact optimal assignment of the 5 market segments to the 5
  *    order priorities minimizing summed average fulfilment latency —
  *    all 120 permutations enumerated relationally (5-way inequality
  *    join), against the sequential greedy baseline (5 chained CTEs);
  *    optimal ≤ greedy is emitted and spec-pinned.
  */
object Training100 {
  // ---------------------------------------------------------------- q462

  private def fifoSql(spark: Boolean, lineitemRel: String, partRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      WITH supply AS $mat(
        SELECT p, q, hi - q AS lo, hi FROM (
          SELECT l_partkey AS p, CAST(round(l_quantity, 0) AS BIGINT) AS q,
                 sum(CAST(round(l_quantity, 0) AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
          FROM $lineitemRel WHERE l_linenumber % 2 = 1) t),
      demand AS $mat(
        SELECT p, q, hi - q AS lo, hi FROM (
          SELECT l_partkey AS p, CAST(round(l_quantity, 0) AS BIGINT) AS q,
                 sum(CAST(round(l_quantity, 0) AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
          FROM $lineitemRel WHERE l_linenumber % 2 = 0) t),
      pairs AS $mat(
        SELECT s.p,
               least(s.hi, d.hi) - greatest(s.lo, d.lo) AS mq
        FROM supply s JOIN demand d
          ON d.p = s.p AND s.lo < d.hi AND d.lo < s.hi),
      per_part AS $mat(
        SELECT coalesce(st.p, dt.p) AS p,
               coalesce(st.ts, 0) AS ts, coalesce(dt.td, 0) AS td,
               coalesce(mp.m, 0) AS m, coalesce(mp.np, 0) AS np
        FROM (SELECT p, max(hi) AS ts FROM supply GROUP BY p) st
        FULL OUTER JOIN (SELECT p, max(hi) AS td FROM demand GROUP BY p) dt
          ON dt.p = st.p
        LEFT JOIN (SELECT p, sum(mq) AS m, count(*) AS np
                   FROM pairs GROUP BY p) mp
          ON mp.p = coalesce(st.p, dt.p))
      SELECT pt.p_brand,
             CAST(sum(pp.m) AS BIGINT) AS matched_qty,
             CAST(sum(pp.td - pp.m) AS BIGINT) AS unfilled_qty,
             CAST(sum(pp.ts - pp.m) AS BIGINT) AS leftover_qty,
             CAST(sum(pp.np) AS BIGINT) AS n_match_pairs
      FROM per_part pp JOIN $partRel pt ON pt.p_partkey = pp.p
      GROUP BY pt.p_brand ORDER BY pt.p_brand"""
  }

  // ---------------------------------------------------------------- q463

  private def ipfBaseSql(spark: Boolean, custRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      w0 AS $mat(
        SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nk,
               CAST(count(*) AS BIGINT) AS w
        FROM $custRel GROUP BY 1, 2)"""
  }

  /** One IPF half-round: scale every cell so the `key` marginal hits
    * `target` (integer floor-div; all-zero groups stay zero).
    */
  private def ipfRoundSql(spark: Boolean, stateRel: String, key: String, target: Long): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      SELECT seg, nk,
             CASE WHEN gsum = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((w * $target) $idiv gsum AS BIGINT) END AS w
      FROM (SELECT seg, nk, w, sum(w) OVER (PARTITION BY $key) AS gsum
            FROM $stateRel) t"""
  }

  private def ipfFinalSql(stateRel: String): String =
    s"""
      rowg AS (
        SELECT CAST(sum(abs(rs - 200000)) AS BIGINT) AS g
        FROM (SELECT seg, sum(w) AS rs FROM $stateRel GROUP BY seg) r),
      colg AS (
        SELECT CAST(sum(abs(cs - 40000)) AS BIGINT) AS g
        FROM (SELECT nk, sum(w) AS cs FROM $stateRel GROUP BY nk) c)
      SELECT s.seg, s.nk, s.w,
             (SELECT max(g) FROM rowg) AS row_gap_l1,
             (SELECT max(g) FROM colg) AS col_gap_l1
      FROM $stateRel s ORDER BY s.seg, s.nk"""

  // ---------------------------------------------------------------- q464

  /** The one scale-bound stage: the 3-table join-agg producing the 5×5
    * cost matrix. Split out so the Spark side materializes it ONCE —
    * left as a plain CTE it would be inlined into its ~7 downstream
    * references and the heavy join-agg would re-run each time.
    */
  private def assignCostSql(spark: Boolean, ordersRel: String, lineitemRel: String,
      custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val days = if (spark) "datediff(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))"
      else "date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))"
    s"""
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
               CAST((sum(CAST($days AS BIGINT)) * 1000000) $idiv count(*)
                 AS BIGINT) AS c
        FROM $ordersRel o
        JOIN $custRel c ON c.c_custkey = o.o_custkey
        JOIN $lineitemRel l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2"""
  }

  private def assignSql(spark: Boolean, costRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      WITH cost AS $mat(SELECT * FROM $costRel),
      segs AS $mat(
        SELECT seg, CAST(row_number() OVER (ORDER BY seg) AS INT) AS si
        FROM (SELECT DISTINCT seg FROM cost) x),
      prios AS $mat(SELECT DISTINCT prio FROM cost),
      cm AS $mat(
        SELECT s.si, c.prio, c.c FROM cost c JOIN segs s ON s.seg = c.seg),
      perms AS (
        SELECT a.prio AS p1, b.prio AS p2, c.prio AS p3,
               d.prio AS p4, e.prio AS p5
        FROM prios a
        JOIN prios b ON b.prio <> a.prio
        JOIN prios c ON c.prio <> a.prio AND c.prio <> b.prio
        JOIN prios d ON d.prio <> a.prio AND d.prio <> b.prio
                    AND d.prio <> c.prio
        JOIN prios e ON e.prio <> a.prio AND e.prio <> b.prio
                    AND e.prio <> c.prio AND e.prio <> d.prio),
      best AS $mat(
        SELECT p.p1, p.p2, p.p3, p.p4, p.p5,
               c1.c + c2.c + c3.c + c4.c + c5.c AS total
        FROM perms p
        JOIN cm c1 ON c1.si = 1 AND c1.prio = p.p1
        JOIN cm c2 ON c2.si = 2 AND c2.prio = p.p2
        JOIN cm c3 ON c3.si = 3 AND c3.prio = p.p3
        JOIN cm c4 ON c4.si = 4 AND c4.prio = p.p4
        JOIN cm c5 ON c5.si = 5 AND c5.prio = p.p5
        ORDER BY total, p.p1, p.p2, p.p3, p.p4, p.p5 LIMIT 1),
      g1 AS (SELECT prio, c FROM cm WHERE si = 1 ORDER BY c, prio LIMIT 1),
      g2 AS (SELECT prio, c FROM cm WHERE si = 2
             AND prio NOT IN (SELECT prio FROM g1) ORDER BY c, prio LIMIT 1),
      g3 AS (SELECT prio, c FROM cm WHERE si = 3
             AND prio NOT IN (SELECT prio FROM g1 UNION ALL SELECT prio FROM g2)
             ORDER BY c, prio LIMIT 1),
      g4 AS (SELECT prio, c FROM cm WHERE si = 4
             AND prio NOT IN (SELECT prio FROM g1 UNION ALL SELECT prio FROM g2
                              UNION ALL SELECT prio FROM g3)
             ORDER BY c, prio LIMIT 1),
      g5 AS (SELECT prio, c FROM cm WHERE si = 5
             AND prio NOT IN (SELECT prio FROM g1 UNION ALL SELECT prio FROM g2
                              UNION ALL SELECT prio FROM g3
                              UNION ALL SELECT prio FROM g4)
             ORDER BY c, prio LIMIT 1),
      greedy AS $mat(
        SELECT 1 AS si, prio, c FROM g1 UNION ALL
        SELECT 2, prio, c FROM g2 UNION ALL
        SELECT 3, prio, c FROM g3 UNION ALL
        SELECT 4, prio, c FROM g4 UNION ALL
        SELECT 5, prio, c FROM g5)
      SELECT s.seg,
             CASE s.si WHEN 1 THEN b.p1 WHEN 2 THEN b.p2 WHEN 3 THEN b.p3
                       WHEN 4 THEN b.p4 ELSE b.p5 END AS opt_prio,
             co.c AS opt_cost,
             g.prio AS greedy_prio, g.c AS greedy_cost,
             (SELECT max(total) FROM best) AS total_opt,
             (SELECT CAST(sum(c) AS BIGINT) FROM greedy) AS total_greedy
      FROM segs s
      CROSS JOIN best b
      JOIN greedy g ON g.si = s.si
      JOIN cm co ON co.si = s.si
        AND co.prio = CASE s.si WHEN 1 THEN b.p1 WHEN 2 THEN b.p2
                                WHEN 3 THEN b.p3 WHEN 4 THEN b.p4
                                ELSE b.p5 END
      ORDER BY s.seg"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q462_fifo_inventory",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_ff_lineitem")
        Tables(s, d, "part").createOrReplaceTempView("graft_ff_part")
        s.sql(fifoSql(spark = true, "graft_ff_lineitem", "graft_ff_part"))
      },
      Some(fifoSql(spark = false, "lineitem", "part"))),

    QueryDef(
      "q463_ipf_raking",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("graft_ipf_customer")
        var w = Iterate.ckpt(s.sql(
          s"WITH ${ipfBaseSql(spark = true, "graft_ipf_customer")} SELECT * FROM w0")
          .coalesce(1))
        for (r <- 1 to 10) {
          w.createOrReplaceTempView("graft_ipf_w")
          val (key, target) = if (r % 2 == 1) ("seg", 200000L) else ("nk", 40000L)
          w = Iterate.ckpt(s.sql(
            ipfRoundSql(spark = true, "graft_ipf_w", key, target)).coalesce(1))
        }
        w.createOrReplaceTempView("graft_ipf_final")
        s.sql("WITH " + ipfFinalSql("graft_ipf_final").trim)
      },
      Some {
        val rounds = (1 to 10).map { r =>
          val (key, target) = if (r % 2 == 1) ("seg", 200000L) else ("nk", 40000L)
          s"w$r AS MATERIALIZED (${ipfRoundSql(spark = false, s"w${r - 1}", key, target)})"
        }.mkString(",\n")
        s"""
          WITH ${ipfBaseSql(spark = false, "customer")},
          $rounds,
          ${ipfFinalSql("w10")}"""
      }),

    QueryDef(
      "q464_assignment_optimal",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_as_orders")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_as_lineitem")
        Tables(s, d, "customer").createOrReplaceTempView("graft_as_customer")
        val cost = Iterate.ckpt(s.sql(assignCostSql(spark = true,
          "graft_as_orders", "graft_as_lineitem", "graft_as_customer")).coalesce(1))
        cost.createOrReplaceTempView("graft_as_cost")
        s.sql(assignSql(spark = true, "graft_as_cost"))
      },
      Some(assignSql(spark = false,
        s"(${assignCostSql(spark = false, "orders", "lineitem", "customer")}) oc"))),
  )
}
