package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Twenty-ninth wave — the remaining modern-SQL surface plus an
  * iterative graph-maintenance operator:
  *
  *  - q243: SQL-defined scalar function (Spark 4 `CREATE TEMPORARY
  *    FUNCTION … RETURN expr`) used inside an aggregate — the
  *    governed-UDF path that stays entirely inside Catalyst (the body
  *    is inlined into the plan, so codegen and pushdown see through
  *    it, unlike a JVM UDF black box).
  *  - q244: aggregate FILTER clause + GROUP BY ALL + ORDER BY ALL —
  *    the conditional-aggregation surface that replaces the
  *    CASE-WHEN-inside-SUM idiom.
  *  - q245: k-core decomposition by iterative peeling (6 declared
  *    rounds) over the co-purchase graph — the standard web-graph
  *    spam/quality filter.
  *  - q246: SQL session variables (DECLARE / SET VAR) holding a
  *    data-derived threshold — the parameterized-query surface.
  */
object Training29 {
  val defs: Seq[QueryDef] = Seq(

    // ---- SQL scalar UDF: the discounted-price function is declared
    // ONCE and referenced like a builtin. Because the body is inlined
    // by the analyzer, the aggregate below whole-stage-codegens
    // exactly as if the expression were written inline — zero UDF
    // serialization wall, which is the entire point of SQL UDFs at
    // 100 TB. The oracle inlines the same body.
    QueryDef(
      "q243_sql_udf",
      (s, d) => {
        // exact-decimal body: price and discount are 2-dp money values,
        // so DECIMAL(18,2) × DECIMAL(4,2) is exact in every engine —
        // no binary-vs-decimal rounding boundary at the cents digit
        s.sql("""
          CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, disc DOUBLE)
          RETURNS DOUBLE
          RETURN CAST(CAST(p AS DECIMAL(18,2)) * CAST(1.0 - disc AS DECIMAL(4,2)) AS DOUBLE)""")
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_li_udf")
        s.sql("""
          SELECT l_returnflag, count(*) AS n,
                 CAST(SUM(CAST(graft_disc_price(l_extendedprice, l_discount)
                               AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          FROM graft_li_udf
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * CAST(1.0 - l_discount AS DECIMAL(4,2)) AS DOUBLE)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
    ),

    // ---- FILTER clause + GROUP BY ALL + ORDER BY ALL: conditional
    // aggregates without the CASE-WHEN contortion; one map-side-
    // combinable pass regardless of how many FILTERed aggregates ride
    // on it.
    QueryDef(
      "q244_filter_clause_agg",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ord_f")
        s.sql("""
          SELECT o_orderpriority,
                 count(*) AS n_orders,
                 count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                      FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                   AS rev_finished
          FROM graft_ord_f
          GROUP BY ALL ORDER BY ALL""")
      },
      Some("""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                 AS rev_finished
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    ),

    // ---- k-core (k=80) by iterative peeling: each round drops
    // nodes of degree < k and the edges touching them; 6 rounds are
    // DECLARED (production peels to fixpoint with a convergence
    // count, same loop). Scale shape per round: one keyed degree agg
    // + two hash semi-joins on a strictly-shrinking localCheckpoint'd
    // edge set — the standard distributed k-core; nothing quadratic.
    // n_nodes counts nodes with ≥1 surviving edge (an isolated
    // survivor is peeled next round anyway). SCALE-DISPATCHED
    // (round 9): Graphs.kcoreRounds measures the doubled-edge count —
    // the peel's per-round work — and above
    // `spark.graft.graph.kcoreEdgeLimit` (default 10⁷) peels the
    // deterministic 1-in-p edge sample at threshold ⌈k/p⌉ instead
    // (q343 declares and hash-oracles that branch). The harness-scale
    // graph (~2.4·10⁶ doubled edges at sf0.1) stays under the limit,
    // so THIS declared entry runs — and is oracled — exact; the 10×
    // sweep's ~2.4·10⁷ routes sampled.
    QueryDef(
      "q245_kcore",
      (s, d) =>
        graft.operators.Graphs.kcoreRounds(
          graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem")),
          k = 80, rounds = 6),
      Some {
        val K = 80
        val rounds = (1 to 6).map { r =>
          s"""keep$r AS MATERIALIZED (
             |  SELECT u FROM (SELECT u, count(*) AS dg FROM und${r - 1} GROUP BY u)
             |  WHERE dg >= $K),
             |und$r AS MATERIALIZED (
             |  SELECT und${r - 1}.u, und${r - 1}.v FROM und${r - 1}
             |  JOIN keep$r ka ON und${r - 1}.u = ka.u
             |  JOIN keep$r kb ON und${r - 1}.v = kb.u)"""
            .stripMargin
        }.mkString(",\n")
        val sel = (0 to 6).map(r =>
          s"SELECT CAST($r AS INT) AS round, " +
            s"(SELECT count(DISTINCT u) FROM und$r) AS n_nodes, " +
            s"(SELECT count(*) // 2 FROM und$r) AS n_edges")
          .mkString(" UNION ALL ")
        s"""
        WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS MATERIALIZED (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        und0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        $rounds
        $sel ORDER BY round"""
      },
    ),

    // ---- SQL session variables: a data-derived threshold DECLAREd
    // once and referenced by name — the parameterized-query surface
    // that replaces string-splicing values into SQL. The threshold is
    // an exact-decimal mean (order-independent), so the variable's
    // value — and every `>` comparison against it — is engine-stable.
    QueryDef(
      "q246_session_variables",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ord_v")
        s.sql("DECLARE OR REPLACE VARIABLE graft_price_cut DOUBLE")
        s.sql("""
          SET VAR graft_price_cut =
            (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                    / count(*)
             FROM graft_ord_v)""")
        s.sql("""
          SELECT o_orderpriority,
                 count(*) AS n_above,
                 round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                       / count(*), 6) AS avg_above
          FROM graft_ord_v
          WHERE o_totalprice > graft_price_cut
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""
        SELECT o_orderpriority,
               count(*) AS n_above,
               round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 6) AS avg_above
        FROM orders
        WHERE o_totalprice >
          (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                  / count(*)
           FROM orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    ),
  )
}
