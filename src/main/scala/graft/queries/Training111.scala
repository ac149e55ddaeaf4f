package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** One-hundred-eleventh wave — the declared contract twin for the
  * flagship operator's 100 TB form (round-10 verdict item 5):
  *
  *  - q490: `IqrOutlierFilter(exact = false)` — the approx_percentile
  *    (t-digest) variant of the reference's sequential per-group IQR
  *    outlier filter (`/root/reference/src/preprocessing.py:69-113`) —
  *    gated by the q134 rank contract plus a row-retention envelope
  *    against the exact witness. The exact q22 stays the oracle truth;
  *    THIS row proves the documented scale path keeps its accuracy
  *    promises: sketch quantile ranks within n/10000 (accuracy 10000)
  *    and survivor counts within 1% + 50 of the exact filter, per
  *    group. Sketch values are merge-order-dependent, so the oracle
  *    pins exact counts + contract booleans (the q294/q344/q489
  *    sketch-contract discipline), never sketch outputs.
  */
object Training111 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q490_iqr_approx_contract",
      (s, d) => {
        import graft.operators.IqrOutlierFilter
        val cols = Seq("l_quantity", "l_extendedprice")
        val li = Tables(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "l_extendedprice")
          .localCheckpoint() // exact filter, approx filter, rank audit all read it
        // exact witness: the reference-semantics filter (q22), reduced
        // to per-group survivor counts — hash-oracled exactly
        val exact = IqrOutlierFilter(li, Seq("l_returnflag"), cols)
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_exact"))
        // the documented 100 TB form: ONE t-digest pass per column
        // instead of exact per-group value buffering
        val approx = IqrOutlierFilter(li, Seq("l_returnflag"), cols, exact = false)
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_approx"))
        // q134 rank contract on the pass-1 sketch quantiles: the value
        // approx_percentile returns must sit within n/10000 rank error
        // of the true quartile (lt = #{x < v} can't exceed p·n + ε;
        // le = #{x ≤ v} can't fall below p·n − ε)
        val qa = li.groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_quantity, array(0.25D, 0.75D), 10000)")
              .as("qs"),
            count(col("l_quantity")).as("nq"))
          .select(col("l_returnflag"),
            element_at(col("qs"), 1).as("q1a"),
            element_at(col("qs"), 2).as("q3a"), col("nq"))
        val ranks = li.join(broadcast(qa), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("l_quantity") < col("q1a"), 1L).otherwise(0L)).as("lt1"),
            sum(when(col("l_quantity") <= col("q1a"), 1L).otherwise(0L)).as("le1"),
            sum(when(col("l_quantity") < col("q3a"), 1L).otherwise(0L)).as("lt3"),
            sum(when(col("l_quantity") <= col("q3a"), 1L).otherwise(0L)).as("le3"),
            max("nq").as("nq"))
        exact.join(approx, Seq("l_returnflag"))
          .join(ranks, Seq("l_returnflag"))
          .selectExpr(
            "l_returnflag",
            "n_exact",
            """lt1 <= nq div 4 + nq div 10000 + 1
               AND le1 >= nq div 4 - nq div 10000 - 1 AS q1_rank_ok""",
            """lt3 <= 3 * nq div 4 + nq div 10000 + 1
               AND le3 >= 3 * nq div 4 - nq div 10000 - 1 AS q3_rank_ok""",
            "abs(n_approx - n_exact) <= n_exact div 100 + 50 AS retention_ok")
          .orderBy("l_returnflag")
      },
      Some("""
        WITH b1 AS (
          SELECT l_returnflag,
                 quantile_cont(l_quantity, 0.25) AS q1,
                 quantile_cont(l_quantity, 0.75) AS q3,
                 count(l_quantity) AS cnt
          FROM lineitem GROUP BY l_returnflag),
        f1 AS (
          SELECT l.* FROM lineitem l JOIN b1 USING (l_returnflag)
          WHERE b1.cnt < 2 OR b1.q3 - b1.q1 = 0
             OR (l.l_quantity IS NOT NULL
                 AND l.l_quantity <= b1.q3 + 1.5 * (b1.q3 - b1.q1))),
        b2 AS (
          SELECT l_returnflag,
                 quantile_cont(l_extendedprice, 0.25) AS q1,
                 quantile_cont(l_extendedprice, 0.75) AS q3,
                 count(l_extendedprice) AS cnt
          FROM f1 GROUP BY l_returnflag),
        f2 AS (
          SELECT f1.* FROM f1 JOIN b2 USING (l_returnflag)
          WHERE b2.cnt < 2 OR b2.q3 - b2.q1 = 0
             OR (f1.l_extendedprice IS NOT NULL
                 AND f1.l_extendedprice <= b2.q3 + 1.5 * (b2.q3 - b2.q1)))
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_exact,
               TRUE AS q1_rank_ok, TRUE AS q3_rank_ok, TRUE AS retention_ok
        FROM f2 GROUP BY 1 ORDER BY l_returnflag""")),
  )
}
