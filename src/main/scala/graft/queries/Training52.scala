package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fifty-second wave — remaining aggregate-surface corners:
  *
  *  - q328: `mode()` under the modality contract (cross-engine mode
  *    tie-break differs, so the gate pins the LAW — the returned value
  *    must achieve the maximum multiplicity — plus exact witnesses).
  *  - q329: discrete percentiles (the value AT a rank, never
  *    interpolated — what `percentile`/quantile_cont cannot give when
  *    the domain must stay closed under selection), via one keyed rank
  *    window; DuckDB's quantile_disc shares the ceil(p·n) convention.
  *  - q330: grouping_id() over a 3-level rollup — the bitmask that
  *    distinguishes "NULL because aggregated away" from "NULL in the
  *    data", which downstream BI consumers key on.
  */
object Training52 {
  val defs: Seq[QueryDef] = Seq(

    // ---- mode() under the modality contract: Spark's deterministic
    // mode (ties → smallest value) vs DuckDB's first-encountered tie
    // break CANNOT be value-pinned, so the oracle pins the law: the
    // mode's multiplicity must equal the exact max multiplicity
    // (witnessed per group), and the value must be one of the modal
    // values — both checked engine-side with exact counts.
    QueryDef(
      "q328_mode_contract",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            col("l_quantity").cast("long").as("q"))
        val counts = li.groupBy("f", "q").agg(count(lit(1)).as("c"))
          .localCheckpoint() // max + modal-membership both read it
        val mx = counts.groupBy("f").agg(max("c").as("max_mult"))
        val modes = li.groupBy("f")
          .agg(expr("mode(q, true)").as("mode_q"))
        modes
          .join(broadcast(mx), "f")
          .join(counts.select(col("f"), col("q").as("mode_q"),
            col("c").as("mode_mult")), Seq("f", "mode_q"))
          .select(col("f"), col("max_mult"),
            (col("mode_mult") === col("max_mult")).as("mode_is_modal"))
          .orderBy("f")
      },
      Some("""
        WITH c AS (
          SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q,
                 count(*) AS c
          FROM lineitem GROUP BY 1, 2)
        SELECT f, CAST(max(c) AS BIGINT) AS max_mult, TRUE AS mode_is_modal
        FROM c GROUP BY 1 ORDER BY f""")),

    // ---- discrete percentiles: the p25/p50/p75 VALUES AT RANK
    // ceil(p·n) per return flag — actual data values (cents stay
    // integers), not interpolations. Value-at-rank-k via counting:
    // v_k = min{v : cum(v) ≥ k} — the data-sized pass is ONE
    // map-side-combinable (group, value) count; the cumulative window
    // runs over the VALUE DICTIONARY (distinct prices), whose size
    // does not grow with row count, so the per-group sort stays
    // dictionary-bounded at any corpus scale (the row-rank-window
    // form measured 7.7× at 10× because 3 group partitions carried
    // every row). DuckDB's quantile_disc shares the convention, so
    // values hash-pin exactly.
    QueryDef(
      "q329_percentile_disc",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
        val cnt = li.groupBy("f", "cents").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("f").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val n = li.groupBy("f").agg(count(lit(1)).as("n"))
        cnt.withColumn("cum", sum("c").over(w))
          .join(broadcast(n), "f")
          .groupBy("f")
          .agg(
            max("n").as("n"),
            min(when(col("cum") >= expr("(n + 3) div 4"), col("cents")))
              .as("p25_cents"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("cents")))
              .as("p50_cents"),
            min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("cents")))
              .as("p75_cents"))
          .orderBy("f")
      },
      Some("""
        SELECT l_returnflag AS f, count(*) AS n,
               CAST(quantile_disc(CAST(round(l_extendedprice * 100, 0)
                 AS BIGINT), 0.25) AS BIGINT) AS p25_cents,
               CAST(quantile_disc(CAST(round(l_extendedprice * 100, 0)
                 AS BIGINT), 0.5) AS BIGINT) AS p50_cents,
               CAST(quantile_disc(CAST(round(l_extendedprice * 100, 0)
                 AS BIGINT), 0.75) AS BIGINT) AS p75_cents
        FROM lineitem GROUP BY 1 ORDER BY f""")),

    // ---- grouping_id(): 3-level rollup over (returnflag, linestatus)
    // with the grouping bitmask distinguishing subtotal rows from data
    // NULLs. The bitmask is part of the output contract (BI tools key
    // on it); exact-cents sums.
    QueryDef(
      "q330_grouping_id",
      (s, d) =>
        Tables(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("n"),
            sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
              .as("cents"))
          .select(
            coalesce(col("l_returnflag"), lit("<all>")).as("rf"),
            coalesce(col("l_linestatus"), lit("<all>")).as("ls"),
            col("gid"), col("n"), col("cents"))
          .orderBy("gid", "rf", "ls"),
      Some("""
        SELECT coalesce(l_returnflag, '<all>') AS rf,
               coalesce(l_linestatus, '<all>') AS ls,
               CAST(CASE WHEN l_returnflag IS NULL AND l_linestatus IS NULL
                         THEN 3
                         WHEN l_linestatus IS NULL THEN 1
                         ELSE 0 END AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, rf, ls""")),
  )
}
