package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.AhoCorasick

/** Seventieth wave — runtime-parameterized SQL, one-pass lexicon
  * matching, and closed-form multivariate regression:
  *
  *  - q376: EXECUTE IMMEDIATE with a named parameter marker — SQL text
  *    held in a session variable, bound at execution time (the Spark 4
  *    dynamic-SQL surface that pairs with q362's IDENTIFIER clause).
  *  - q377: broadcast Aho–Corasick dictionary matching — ONE automaton
  *    scan per document counts every occurrence of every lexicon term
  *    (nested terms included via merged suffix-link outputs), where the
  *    naive plan is one full corpus scan PER TERM. Per-partition
  *    partial aggregation keeps shuffle size at terms × partitions.
  *  - q378: two-predictor OLS by exact normal equations — Cramer's
  *    rule on n-scaled centered sums, every step in integer arithmetic
  *    (DECIMAL(38,0) on Spark, HUGEINT in DuckDB), coefficients
  *    emitted in half-up micro-units. Closed-form distributed ML: one
  *    aggregation pass, no gradient loop, no floats anywhere.
  */
object Training70 {
  /** The q377 lexicon. Every term is border-free (no proper prefix
    * equals a suffix), so occurrences of a term can never overlap
    * themselves and the all-occurrence automaton count equals the
    * DuckDB non-overlapping replace() count — the oracle identity.
    * "join" nested inside "hash join" and "val" inside "value" pin the
    * suffix-link outputs; "a" (frequent single char) pins per-position
    * emission.
    */
  private val lexicon: IndexedSeq[String] = Vector(
    "a", "agg", "hash join", "join", "row", "scan",
    "slow query", "stream", "table scan", "val")

  /** Half-up rounding of num/den scaled by 1e6, in pure integer ops
    * that never exceed ~1e38: three-stage split micro = q·1e6 + a·1e3 +
    * halfUp(1e3·b/den) with q = ⌊|num|/den⌋, r = |num| − q·den,
    * a = ⌊1e3·r/den⌋, b = 1e3·r − a·den (each division's operands stay
    * ≤ 2e3·den). Sign applied at the end; den must be > 0.
    */
  private def microDiv(num: String, den0: String, idiv: String): String = {
    val den = s"($den0)"
    def stage(pos: String) =
      s"""((($pos) $idiv $den) * 1000000
          + (((1000 * (($pos) % $den)) $idiv $den)) * 1000
          + (2000 * ((1000 * (($pos) % $den)) % $den) + $den)
              $idiv (2 * $den))"""
    s"""CASE WHEN ($num) < 0 THEN -${stage(s"-($num)")}
        ELSE ${stage(num)} END"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- EXECUTE IMMEDIATE: the statement text lives in a session
    // variable and carries a NAMED PARAMETER MARKER (:cut); USING
    // binds it at execution time. This is how a 100 TB deployment
    // templates one audited query over many runtime thresholds without
    // string-splicing values into SQL (injection-safe, plan-cacheable).
    QueryDef(
      "q376_execute_immediate",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ord_ei")
        s.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
        s.sql(
          """SET VAR graft_stmt =
            'SELECT o_orderpriority AS pri, count(*) AS n,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                      AS revenue
             FROM graft_ord_ei WHERE o_totalprice >= :cut
             GROUP BY o_orderpriority ORDER BY pri'""")
        s.sql("EXECUTE IMMEDIATE graft_stmt USING 150000.0 AS cut")
      },
      Some("""
        SELECT o_orderpriority AS pri, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS revenue
        FROM orders WHERE o_totalprice >= 150000.0
        GROUP BY 1 ORDER BY pri""")),

    // ---- dictionary match: the automaton is built ONCE on the driver
    // (O(Σ|term|) states), shipped in the task closure, and each
    // document is scanned ONCE regardless of lexicon size. Partials
    // are aggregated inside mapPartitions (terms-sized arrays), so the
    // shuffle carries terms × partitions rows — at 100 TB the naive
    // per-term replace() plan pays k corpus scans; this pays one.
    QueryDef(
      "q377_dictionary_match",
      (s, d) => {
        val terms = lexicon
        val ac = new AhoCorasick(terms)
        import s.implicits._
        val docs = Tables(s, d, "documents").select(col("text")).as[String]
        docs
          .mapPartitions { it =>
            val occ = new Array[Long](terms.size)
            val nDocs = new Array[Long](terms.size)
            it.foreach { text =>
              val c = ac.countAll(text)
              var i = 0
              while (i < c.length) {
                occ(i) += c(i); if (c(i) > 0L) nDocs(i) += 1L; i += 1
              }
            }
            // emit every term (zero counts included) so a corpus-wide
            // zero-occurrence term still yields its oracle row
            terms.indices.iterator.map(i => (terms(i), occ(i), nDocs(i)))
          }
          .toDF("term", "occ", "docs")
          .groupBy("term")
          .agg(sum("occ").as("n_occurrences"), sum("docs").as("n_docs"))
          .orderBy("term")
      },
      Some(lexicon.map { term =>
        val esc = term.replace("'", "''")
        s"""SELECT '$esc' AS term,
               CAST(SUM((length(text) - length(replace(text, '$esc', '')))
                        // ${term.length}) AS BIGINT) AS n_occurrences,
               CAST(COUNT(*) FILTER (WHERE position('$esc' IN text) > 0)
                 AS BIGINT) AS n_docs
            FROM documents"""
      }.mkString("", " UNION ALL ", " ORDER BY term"))),

    // ---- exact 2-predictor OLS (y = extendedprice ~ quantity +
    // retailprice, all in integer dollars): one aggregation pass emits
    // the 8 raw moment sums; Cramer's rule on n-scaled centered sums
    // S_ij = n·Σxixj − Σxi·Σxj gives b1 = (S22·S1y − S12·S2y)/den,
    // b2 = (S11·S2y − S12·S1y)/den, den = S11·S22 − S12². Every
    // intermediate fits 38 digits at sf0.1×10 (magnitude audit in
    // git history); coefficients are half-up micro-units, the
    // intercept and R² (ppm) derive from the ROUNDED slopes so both
    // engines compute byte-identical integers. At 100× the same sums
    // feed driver-side BigInt — the aggregation pass is unchanged.
    QueryDef(
      "q378_multiple_regression",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select("l_partkey", "l_quantity",
          "l_extendedprice")
        val pt = Tables(s, d, "part").select("p_partkey", "p_retailprice")
        val joined = li.join(broadcast(pt),
            li("l_partkey") === pt("p_partkey"))
          .selectExpr(
            "CAST(l_quantity AS DECIMAL(38,0)) AS x1",
            "(CAST(round(p_retailprice * 100, 0) AS BIGINT) div 100)" +
              " AS x2l",
            "(CAST(round(l_extendedprice * 100, 0) AS BIGINT) div 100)" +
              " AS yl")
          .selectExpr("x1", "CAST(x2l AS DECIMAL(38,0)) AS x2",
            "CAST(yl AS DECIMAL(38,0)) AS y")
        val sums = joined.agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("sx1x1"),
          sum(col("x2") * col("x2")).as("sx2x2"),
          sum(col("x1") * col("x2")).as("sx1x2"),
          sum(col("x1") * col("y")).as("sx1y"),
          sum(col("x2") * col("y")).as("sx2y"),
          sum(col("y") * col("y")).as("syy"))
        val centered = sums.selectExpr("n", "sx1", "sx2", "sy",
          "n * sx1x1 - sx1 * sx1 AS s11",
          "n * sx2x2 - sx2 * sx2 AS s22",
          "n * sx1x2 - sx1 * sx2 AS s12",
          "n * sx1y  - sx1 * sy  AS s1y",
          "n * sx2y  - sx2 * sy  AS s2y",
          "n * syy   - sy * sy   AS sst")
        val cramer = centered.selectExpr("n", "sx1", "sx2", "sy", "sst",
          "s1y", "s2y",
          "s11 * s22 - s12 * s12 AS den",
          "s22 * s1y - s12 * s2y AS num1",
          "s11 * s2y - s12 * s1y AS num2")
        val slopes = cramer.selectExpr("n", "sx1", "sx2", "sy", "sst",
          "s1y", "s2y",
          s"${microDiv("num1", "nullif(den, 0)", "div")} AS b1_micro",
          s"${microDiv("num2", "nullif(den, 0)", "div")} AS b2_micro")
        slopes.selectExpr(
          "CAST(n AS BIGINT) AS n", "b1_micro", "b2_micro",
          microDiv("1000000 * sy - b1_micro * sx1 - b2_micro * sx2",
            "1000000 * n", "div") + " AS b0_micro",
          // micro of (b·S)/(1e6·sst) IS ppm of ss_model/sst directly
          s"""${microDiv("b1_micro * s1y + b2_micro * s2y",
              "nullif(sst, 0) * 1000000", "div")} AS r2_ppm""")
      },
      Some(s"""
        WITH j AS (
          SELECT CAST(l_quantity AS HUGEINT) AS x1,
                 CAST(CAST(round(p_retailprice * 100, 0) AS BIGINT) // 100
                   AS HUGEINT) AS x2,
                 CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 100
                   AS HUGEINT) AS y
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), sums AS (
          SELECT CAST(count(*) AS HUGEINT) AS n,
                 SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
                 SUM(x1 * x1) AS sx1x1, SUM(x2 * x2) AS sx2x2,
                 SUM(x1 * x2) AS sx1x2, SUM(x1 * y) AS sx1y,
                 SUM(x2 * y) AS sx2y, SUM(y * y) AS syy
          FROM j
        ), c AS (
          SELECT n, sx1, sx2, sy,
                 n * sx1x1 - sx1 * sx1 AS s11,
                 n * sx2x2 - sx2 * sx2 AS s22,
                 n * sx1x2 - sx1 * sx2 AS s12,
                 n * sx1y  - sx1 * sy  AS s1y,
                 n * sx2y  - sx2 * sy  AS s2y,
                 n * syy   - sy * sy   AS sst
          FROM sums
        ), k AS (
          SELECT n, sx1, sx2, sy, sst, s1y, s2y,
                 s11 * s22 - s12 * s12 AS den,
                 s22 * s1y - s12 * s2y AS num1,
                 s11 * s2y - s12 * s1y AS num2
          FROM c
        ), b AS (
          SELECT n, sx1, sx2, sy, sst, s1y, s2y,
                 ${microDiv("num1", "nullif(den, 0)", "//")} AS b1_micro,
                 ${microDiv("num2", "nullif(den, 0)", "//")} AS b2_micro
          FROM k
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(b1_micro AS BIGINT) AS b1_micro,
               CAST(b2_micro AS BIGINT) AS b2_micro,
               CAST(${microDiv(
                 "1000000 * sy - b1_micro * sx1 - b2_micro * sx2",
                 "1000000 * n", "//")} AS BIGINT) AS b0_micro,
               CAST(${microDiv("b1_micro * s1y + b2_micro * s2y",
                 "nullif(sst, 0) * 1000000", "//")}
                 AS BIGINT) AS r2_ppm
        FROM b""")),
  )
}
