package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-third wave — transport drift, index structures, and rules:
  *
  *  - q441: Wasserstein-1 (earth-mover) drift between the pre-1998
  *    and 1998+ order-price distributions — W1 in 1D is the area
  *    between the two CDFs, computed exactly on a shared 64-bin grid
  *    with integer cross-multiplied CDF differences (|F_A−F_B|
  *    compared as cumA·nB − cumB·nA — no division until the final
  *    ppm projection). The metric that SEES how far mass moved,
  *    which PSI (q148) and KS (q146) do not.
  *  - q442: sparse-table range-minimum queries — the ⌈log n⌉-level
  *    power-of-two min table built in ONE window pass over the
  *    256-slot revenue grid, then 12 ranges answered by the classic
  *    two-overlapping-blocks lookup and verified in-query against a
  *    direct range min; the match flag is pinned TRUE. The O(1)-query
  *    RMQ structure every zone-map/skipping index generalizes.
  *  - q443: association rules from co-purchase pair supports —
  *    confidence and lift in integer ppm for both directions of every
  *    pair above a support floor, top-20 by lift. The market-basket
  *    step AFTER q403's Apriori support counting: supports become
  *    directional rules with the lift>1 reading.
  */
object Training93 {
  // q442 plan-time query set: (qid, a, b, k=⌊log2(b-a)⌋, 2^k)
  private val RmqQueries: Seq[(Int, Int, Int, Int, Int)] =
    Seq((0, 0, 256), (1, 5, 9), (2, 17, 81), (3, 100, 228), (4, 32, 33),
      (5, 7, 200), (6, 128, 256), (7, 250, 256), (8, 60, 61),
      (9, 90, 218), (10, 3, 130), (11, 200, 201))
      .map { case (q, a, b) =>
        val k = 31 - Integer.numberOfLeadingZeros(b - a)
        (q, a, b, k, 1 << k)
      }

  private def rmqSql(spark: Boolean, ordersRel: String): String = {
    val dd = if (spark) "datediff(o_orderdate, mind)" else "date_diff('day', mind, o_orderdate)"
    val span = if (spark) "datediff(maxd, mind)" else "date_diff('day', mind, maxd)"
    val idiv = if (spark) "div" else "//"
    val grid = if (spark) "SELECT explode(sequence(0, 255)) AS idx"
      else "SELECT t.idx FROM range(256) t(idx)"
    val lvls = (0 to 8).map(k =>
      if (k == 0) "v AS m0"
      else s"""min(v) OVER (ORDER BY idx
             ROWS BETWEEN CURRENT ROW AND ${(1 << k) - 1} FOLLOWING) AS m$k""")
      .mkString(",\n               ")
    val qvals = RmqQueries
      .map { case (q, a, b, k, p2) => s"($q, $a, $b, $k, $p2)" }
      .mkString(", ")
    val pick = (c: String) =>
      "CASE q.k " + (0 to 8).map(k => s"WHEN $k THEN $c.m$k").mkString(" ") + " END"
    s"""
      WITH bounds AS (
        SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd FROM $ordersRel),
      slots AS (
        SELECT CAST((($dd) * 256) $idiv (($span) + 1) AS INT) AS idx,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        FROM $ordersRel, bounds GROUP BY 1),
      g AS (
        SELECT g0.idx, CAST(coalesce(s.cents, 0) AS BIGINT) AS v
        FROM ($grid) g0 LEFT JOIN slots s ON s.idx = g0.idx),
      tbl AS (
        SELECT idx, $lvls
        FROM g),
      qs AS (SELECT * FROM (VALUES $qvals) AS q(qid, a, b, k, p2)),
      looked AS (
        SELECT q.qid, q.a, q.b, q.k,
               least(${pick("la")}, ${pick("lb")}) AS rmq_table
        FROM qs q
        JOIN tbl la ON la.idx = q.a
        JOIN tbl lb ON lb.idx = q.b - q.p2),
      direct AS (
        SELECT q.qid, min(g.v) AS rmq_direct
        FROM qs q JOIN g ON g.idx >= q.a AND g.idx < q.b
        GROUP BY q.qid)
      SELECT CAST(l.qid AS INT) AS qid, CAST(l.a AS INT) AS a,
             CAST(l.b AS INT) AS b, CAST(l.k AS INT) AS k_used,
             CAST(l.rmq_table AS BIGINT) AS rmq_table,
             CAST(dx.rmq_direct AS BIGINT) AS rmq_direct,
             CAST(CASE WHEN l.rmq_table = dx.rmq_direct THEN 1 ELSE 0 END AS INT)
               AS table_matches
      FROM looked l JOIN direct dx ON dx.qid = l.qid
      ORDER BY qid"""
  }

  private def wassersteinSql(spark: Boolean, ordersRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      WITH c AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CASE WHEN o_orderdate < ${if (spark) "DATE'1998-01-01'" else "DATE '1998-01-01'"}
                    THEN 0 ELSE 1 END AS pop
        FROM $ordersRel),
      bounds AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c),
      binned AS (
        SELECT CAST(((cents - mn) * 64) $idiv (mx - mn + 1) AS INT) AS bin,
               SUM(CASE WHEN pop = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN pop = 1 THEN 1 ELSE 0 END) AS cb
        FROM c, bounds GROUP BY 1),
      tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        FROM binned),
      cdf AS (
        SELECT bin,
               sum(ca) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
               sum(cb) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        FROM binned)
      SELECT t.na, t.nb,
             CAST((b.mx - b.mn + 1) $idiv 64 AS BIGINT) AS bin_width_cents,
             CAST(sum(abs(cuma * t.nb - cumb * t.na)) AS BIGINT)
               AS sum_scaled_absdiff,
             CAST(((b.mx - b.mn + 1) $idiv 64)
               * sum((abs(cuma * t.nb - cumb * t.na) * 1000000) $idiv (t.na * t.nb))
               AS BIGINT) AS w1_micro_cents
      FROM cdf, tot t, bounds b
      GROUP BY t.na, t.nb, b.mx, b.mn"""
  }

  /** Pair support floor for q443. Applied TWICE: as the final HAVING
    * and — Apriori's anti-monotone property — as a pre-enumeration
    * semi-join on the items (a pair in ≥3 baskets needs BOTH items in
    * ≥3 baskets), so the `op × op` self-join only ever sees frequent
    * items. Output is bit-identical to the unpruned form (the r9 hash
    * oracle is unchanged); pair mass collapses on skewed corpora where
    * most items are rare (PlantedHotBasket spec pins the collapse).
    */
  private val RuleMinSup = 3

  /** Everything past the basket/item/frequent-item staging, shared by
    * both dialects. The Spark side materializes `op`/`item`/`opf` ONCE
    * as checkpointed views (a plain CTE is re-inlined at every
    * reference — the unstaged form scanned and re-distinct'd lineitem
    * FOUR times: n_orders, item, and both sides of the pair join);
    * DuckDB materializes the same stages in-SQL.
    */
  private def rulesOpSql(liRel: String): String =
    s"SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM $liRel"

  private def rulesItemSql(opRel: String): String =
    s"SELECT p, CAST(count(*) AS BIGINT) AS supp FROM $opRel GROUP BY p"

  private def rulesOpfSql(opRel: String, itemRel: String): String =
    s"""SELECT op.o, op.p FROM $opRel op
        JOIN $itemRel it ON it.p = op.p AND it.supp >= $RuleMinSup"""

  private def rulesRestSql(spark: Boolean, opRel: String, itemRel: String,
      opfRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      n_orders AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM $opRel),
      pair AS (
        SELECT a.p AS x, b.p AS y, CAST(count(*) AS BIGINT) AS supp_xy
        FROM $opfRel a JOIN $opfRel b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING count(*) >= $RuleMinSup),
      rules AS (
        SELECT r.x, r.y, r.supp_xy,
               (r.supp_xy * 1000000) $idiv ix.supp AS conf_ppm,
               (r.supp_xy * n.n * 1000000) $idiv (ix.supp * iy.supp) AS lift_ppm
        FROM (SELECT x, y, supp_xy FROM pair
              UNION ALL SELECT y AS x, x AS y, supp_xy FROM pair) r
        JOIN $itemRel ix ON ix.p = r.x
        JOIN $itemRel iy ON iy.p = r.y
        CROSS JOIN n_orders n)
      SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
             supp_xy, CAST(conf_ppm AS BIGINT) AS conf_ppm,
             CAST(lift_ppm AS BIGINT) AS lift_ppm
      FROM rules
      ORDER BY lift_ppm DESC, x, y LIMIT 20"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q441_wasserstein_drift",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_w1_orders")
        s.sql(wassersteinSql(spark = true, "graft_w1_orders"))
      },
      Some(wassersteinSql(spark = false, "orders"))),

    QueryDef(
      "q442_sparse_table_rmq",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_rmq_orders")
        s.sql(rmqSql(spark = true, "graft_rmq_orders"))
      },
      Some(rmqSql(spark = false, "orders"))),

    QueryDef(
      "q443_association_rules",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_ar_lineitem")
        val op = graft.Iterate.ckpt(s.sql(rulesOpSql("graft_ar_lineitem")))
        op.createOrReplaceTempView("graft_ar_op")
        val item = graft.Iterate.ckpt(s.sql(rulesItemSql("graft_ar_op")))
        item.createOrReplaceTempView("graft_ar_item")
        val opf = graft.Iterate.ckpt(
          s.sql(rulesOpfSql("graft_ar_op", "graft_ar_item")))
        opf.createOrReplaceTempView("graft_ar_opf")
        s.sql("WITH " + rulesRestSql(spark = true,
          "graft_ar_op", "graft_ar_item", "graft_ar_opf"))
      },
      Some(s"""
        WITH op AS MATERIALIZED (${rulesOpSql("lineitem")}),
        item AS MATERIALIZED (${rulesItemSql("op")}),
        opf AS MATERIALIZED (${rulesOpfSql("op", "item")}),
        ${rulesRestSql(spark = false, "op", "item", "opf")}""")),
  )
}
