package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{QueryDef, Tables}

/** Hundred-fifth wave — integrity checks, concurrency audits, and
  * decorrelation:
  *
  *  - q475: Luhn (mod-10) account-number validation — account numbers
  *    are synthesized as custkey·10 + Luhn check digit, then every
  *    7th key gets a single-digit substitution (+1 mod 10 at the tens²
  *    position). Luhn catches EVERY single-digit substitution, so the
  *    invalid census must equal the corruption census exactly — the law
  *    the spec pins. Pure per-row integer digit arithmetic, identical
  *    in both dialects.
  *  - q476: snapshot-isolation write-write conflict census — events
  *    fold into transactions (8 events each) with an execution window
  *    [min ts, max ts] and one written key (the min event_type).
  *    Overlapping same-key transaction PAIRS are counted WITHOUT the
  *    quadratic self-join: a sweep over the merged (start, end) point
  *    list — each pair counted once from its earlier-start side as
  *    (# starts ≤ my end) − (my start rank). Peak same-key concurrency
  *    rides the same sweep (+1/−1 running sum). The scale shape is two
  *    keyed windows over 2 rows/txn.
  *  - q477: the decorrelation identity on the TPC-H Q17 shape —
  *    "lineitems under 20% of their part's average quantity". The
  *    DECLARED plan is the manual group-rewrite (one per-part aggregate
  *    joined back); the ORACLE is the textbook correlated-subquery
  *    form; the predicate is exact integer (5·q·cnt < Σq, no division),
  *    so the hash gate proves the rewrite identity.
  */
object Training105 {
  // ---------------------------------------------------------------- q475

  private def luhnSql(spark: Boolean, custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    // Luhn sum over a 10-digit account number: from the rightmost digit
    // (position 0 = the check digit), double every odd position,
    // subtracting 9 when the double exceeds 9.
    def digit(expr: String, p: Int) = s"(($expr) $idiv ${BigInt(10).pow(p)}) % 10"
    def luhnTerm(expr: String, p: Int) =
      if (p % 2 == 0) digit(expr, p)
      else s"(CASE WHEN 2 * (${digit(expr, p)}) > 9 THEN 2 * (${digit(expr, p)}) - 9 ELSE 2 * (${digit(expr, p)}) END)"
    val fullSum = (0 to 9).map(p => luhnTerm("acct", p)).mkString(" + ")
    s"""
      WITH acct0 AS (
        SELECT c_custkey, c_mktsegment,
               c_custkey * 10 + (10 - (${(1 to 9).map(p => luhnTerm("c_custkey * 10", p)).mkString(" + ")}) % 10) % 10
                 AS acct
        FROM $custRel),
      corrupted AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 7 = 0
                    THEN acct + (((acct $idiv 100) % 10 + 1) % 10
                                 - (acct $idiv 100) % 10) * 100
                    ELSE acct END AS acct,
               CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS corrupted
        FROM acct0)
      SELECT c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n_accounts,
             CAST(sum(CASE WHEN ($fullSum) % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_valid,
             CAST(sum(CASE WHEN ($fullSum) % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_invalid,
             CAST(sum(corrupted) AS BIGINT) AS n_corrupted
      FROM corrupted
      GROUP BY c_mktsegment ORDER BY seg"""
  }

  // ---------------------------------------------------------------- q476

  private def siSweepSql(spark: Boolean, eventsRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    s"""
      WITH txns AS $mat(
        SELECT event_id $idiv 8 AS tid, min(event_type) AS k,
               min(ts) AS s, max(ts) AS e
        FROM $eventsRel GROUP BY 1),
      ranked AS $mat(
        SELECT tid, k, s, e,
               CAST(row_number() OVER (PARTITION BY k ORDER BY s, tid) AS BIGINT)
                 AS rk
        FROM txns),
      pts AS $mat(
        SELECT k, s AS pos, 0 AS kind, tid, rk FROM ranked
        UNION ALL
        SELECT k, e AS pos, 1 AS kind, tid, rk FROM ranked),
      swept AS $mat(
        SELECT k, pos, kind, tid, rk,
               CAST(sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY k ORDER BY pos, kind, tid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS starts_le,
               CAST(sum(CASE WHEN kind = 0 THEN 1 ELSE -1 END)
                 OVER (PARTITION BY k ORDER BY pos, kind, tid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS active
        FROM pts)
      SELECT k AS write_key,
             CAST(sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_txns,
             CAST(sum(CASE WHEN kind = 1 THEN starts_le - rk ELSE 0 END)
               AS BIGINT) AS n_conflict_pairs,
             CAST(max(CASE WHEN kind = 0 THEN active END) AS BIGINT)
               AS peak_concurrency
      FROM swept
      GROUP BY k
      ORDER BY write_key"""
  }

  // ---------------------------------------------------------------- q477

  /** Declared form: manual decorrelation — per-part (count, Σq100)
    * aggregate joined back; predicate 5·q100·cnt < Σq100.
    */
  private def q17RewriteSql(lineitemRel: String, partRel: String): String =
    s"""
      WITH pstats AS (
        SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
                 AS sq
        FROM $lineitemRel GROUP BY 1)
      SELECT p.p_brand,
             CAST(count(*) AS BIGINT) AS n_small_lines,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS revenue_cents
      FROM $lineitemRel l
      JOIN pstats ps ON ps.pk = l.l_partkey
      JOIN $partRel p ON p.p_partkey = l.l_partkey
      WHERE 5 * CAST(round(l.l_quantity * 100, 0) AS BIGINT) * ps.cnt < ps.sq
      GROUP BY p.p_brand ORDER BY p.p_brand"""

  /** Oracle form: the textbook correlated subquery (DuckDB decorrelates
    * it itself — the hash gate proves both forms are one query).
    */
  private def q17CorrelatedSql(lineitemRel: String, partRel: String): String =
    s"""
      SELECT p.p_brand,
             CAST(count(*) AS BIGINT) AS n_small_lines,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
               AS BIGINT) AS revenue_cents
      FROM $lineitemRel l
      JOIN $partRel p ON p.p_partkey = l.l_partkey
      WHERE 5 * CAST(round(l.l_quantity * 100, 0) AS BIGINT) *
              (SELECT count(*) FROM $lineitemRel l2
               WHERE l2.l_partkey = l.l_partkey)
            < (SELECT CAST(sum(CAST(round(l3.l_quantity * 100, 0) AS BIGINT))
                 AS BIGINT)
               FROM $lineitemRel l3 WHERE l3.l_partkey = l.l_partkey)
      GROUP BY p.p_brand ORDER BY p.p_brand"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q475_luhn_validation",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("graft_lu_customer")
        s.sql(luhnSql(spark = true, "graft_lu_customer"))
      },
      Some(luhnSql(spark = false, "customer"))),

    QueryDef(
      "q476_si_conflict_sweep",
      (s, d) => {
        Tables(s, d, "events").createOrReplaceTempView("graft_si_events")
        s.sql(siSweepSql(spark = true, "graft_si_events"))
      },
      Some(siSweepSql(spark = false, "events"))),

    QueryDef(
      "q477_decorrelated_q17",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_q17_lineitem")
        Tables(s, d, "part").createOrReplaceTempView("graft_q17_part")
        s.sql(q17RewriteSql("graft_q17_lineitem", "graft_q17_part"))
      },
      Some(q17CorrelatedSql("lineitem", "part"))),
  )
}
