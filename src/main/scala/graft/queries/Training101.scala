package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{QueryDef, Tables}

/** Hundred-first wave — production join/agg machinery:
  *
  *  - q465: multiple COUNT(DISTINCT ...) over different columns in ONE
  *    aggregation — the query shape Spark executes with an Expand
  *    operator (each input row fans out once per distinct group, then a
  *    two-level aggregate de-dups). The plan is pinned in PlanSpec; the
  *    scaladoc documents the ×k row expansion that makes >3 distinct
  *    columns a shuffle-mass hazard at 100 TB (the alternative is one
  *    pass per distinct column, or approx sketches — q32's HLL).
  *  - q466: bitemporal AS-OF reconstruction — an order-price version log
  *    with BOTH a valid-time interval (when the price applied) and a
  *    transaction-time interval (when the system believed it): "what did
  *    we think on T the total price effective on V was" for a 3×3
  *    (T, V) grid, answered by one interval-pair join. Versions are
  *    synthesized deterministically (F-status orders get a 10% markup
  *    correction transacted 90 days after the order).
  *  - q467: null-key skew splitting — the production rewrite for outer
  *    joins whose foreign key is heavily NULL (NULLs can never match, yet
  *    a naive plan ships them all into the join): route NULL-FK rows
  *    around the join entirely and union them back with NULL dim columns.
  *    The DECLARED plan is the split rewrite; the ORACLE is the plain
  *    LEFT JOIN — the hash gate proves the rewrite is an identity.
  */
object Training101 {
  private def multiDistinctSql(custRel: String, ordersRel: String): String =
    s"""
      SELECT c.c_mktsegment AS seg,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
             CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(count(DISTINCT month(o.o_orderdate)) AS BIGINT) AS n_months,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment ORDER BY seg"""

  /** Version log: every order has a v1 price believed from its order
    * date; F-status orders get a v2 correction (×1.1, exact integer
    * cents) transacted 90 days later. valid_to/tx_to are exclusive;
    * NULL = open.
    */
  private def bitemporalSql(spark: Boolean, ordersRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    def addDays(col: String, n: Int) =
      if (spark) s"date_add(CAST($col AS DATE), $n)"
      else s"(CAST($col AS DATE) + CAST($n AS INTEGER))"
    s"""
      WITH versions AS $mat(
        SELECT o_orderkey AS ok, CAST(o_orderdate AS DATE) AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               CAST(o_orderdate AS DATE) AS tx_from,
               CASE WHEN o_orderstatus = 'F'
                    THEN ${addDays("o_orderdate", 90)} ELSE CAST(NULL AS DATE)
               END AS tx_to,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM $ordersRel
        UNION ALL
        SELECT o_orderkey, CAST(o_orderdate AS DATE),
               CAST(NULL AS DATE),
               ${addDays("o_orderdate", 90)}, CAST(NULL AS DATE),
               CAST((CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11) $idiv 10
                 AS BIGINT)
        FROM $ordersRel WHERE o_orderstatus = 'F'),
      grid AS (
        SELECT CAST(v AS DATE) AS v, CAST(tt AS DATE) AS tt
        FROM (SELECT CAST('1996-06-01' AS DATE) AS v UNION ALL
              SELECT CAST('1999-06-01' AS DATE) UNION ALL
              SELECT CAST('2001-06-01' AS DATE)) vv
        CROSS JOIN (SELECT CAST('1996-09-01' AS DATE) AS tt UNION ALL
                    SELECT CAST('1999-09-01' AS DATE) UNION ALL
                    SELECT CAST('2001-09-01' AS DATE)) tx)
      SELECT g.v AS valid_asof, g.tt AS tx_asof,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(ver.cents) AS BIGINT) AS total_cents
      FROM grid g
      JOIN versions ver
        ON ver.valid_from <= g.v
       AND (ver.valid_to IS NULL OR g.v < ver.valid_to)
       AND ver.tx_from <= g.tt
       AND (ver.tx_to IS NULL OR g.tt < ver.tx_to)
      GROUP BY g.v, g.tt ORDER BY g.v, g.tt"""
  }

  /** Oracle form of q467: the plain outer join the split rewrite must
    * reproduce bit-for-bit.
    */
  private def nullSkewOracleSql(lineitemRel: String, suppRel: String, nationRel: String): String =
    s"""
      WITH facts AS (
        SELECT CASE WHEN l_linenumber = 1 THEN NULL ELSE l_suppkey END AS sk,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM $lineitemRel)
      SELECT coalesce(n.n_name, 'UNKNOWN') AS supplier_nation,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(f.cents) AS BIGINT) AS revenue_cents
      FROM facts f
      LEFT JOIN $suppRel s ON s.s_suppkey = f.sk
      LEFT JOIN $nationRel n ON n.n_nationkey = s.s_nationkey
      GROUP BY coalesce(n.n_name, 'UNKNOWN') ORDER BY supplier_nation"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q465_multi_distinct_expand",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("graft_md_customer")
        Tables(s, d, "orders").createOrReplaceTempView("graft_md_orders")
        s.sql(multiDistinctSql("graft_md_customer", "graft_md_orders"))
      },
      Some(multiDistinctSql("customer", "orders"))),

    QueryDef(
      "q466_bitemporal_asof",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_bt_orders")
        s.sql(bitemporalSql(spark = true, "graft_bt_orders"))
      },
      Some(bitemporalSql(spark = false, "orders"))),

    QueryDef(
      "q467_null_skew_split",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val facts = Tables(s, d, "lineitem").selectExpr(
          "CASE WHEN l_linenumber = 1 THEN NULL ELSE l_suppkey END AS sk",
          "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents")
        val supp = Tables(s, d, "supplier").as("s")
          .join(Tables(s, d, "nation").as("n"),
            expr("n.n_nationkey = s.s_nationkey"), "left")
          .selectExpr("s.s_suppkey AS sk", "n.n_name AS nn")
        // THE SPLIT: null FKs can never match — keep them out of the
        // shuffle entirely and union the pass-through branch back.
        val withKey = facts.filter(col("sk").isNotNull)
          .join(broadcast(supp), Seq("sk"), "left")
        val nullKey = facts.filter(col("sk").isNull)
          .withColumn("nn", lit(null).cast("string"))
        withKey.select(col("nn"), col("cents"))
          .unionByName(nullKey.select(col("nn"), col("cents")))
          .groupBy(coalesce(col("nn"), lit("UNKNOWN")).as("supplier_nation"))
          .agg(count(lit(1)).cast("long").as("n_lines"),
            sum(col("cents")).cast("long").as("revenue_cents"))
          .orderBy("supplier_nation")
      },
      Some(nullSkewOracleSql("lineitem", "supplier", "nation"))),
  )
}
