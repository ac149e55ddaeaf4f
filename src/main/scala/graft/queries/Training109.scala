package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}

import graft.{Iterate, QueryDef, Tables}
import graft.operators.{EquiDepthBins, TextOps}

/** Hundred-ninth wave — partitioner design and deadlock avoidance:
  *
  *  - q487: range-partitioner balance audit — exactly the decision
  *    Spark's RangePartitioner makes before every global sort: draw a
  *    deterministic ~1% key sample (hash-selected, so reproducible),
  *    cut 31 equi-depth bounds from it, assign every key to its range
  *    partition via the collected-literal binary-search CASE tree
  *    (`EquiDepthBins.searchCountExpr` — ⌈log₂ 31⌉ codegen'd compares
  *    per row, no 31-way join), and compare the resulting 32-partition
  *    load skew against hash partitioning. The bounds collect is 31
  *    values — driver-bounded at any corpus size.
  *  - q488: Banker's-algorithm safety check (Dijkstra) — 5 processes
  *    (segments) with data-derived 2-resource allocations and claims
  *    share a pool sized to Σalloc + a small slack; 5 relaxation rounds
  *    each release the name-smallest process whose remaining need fits
  *    in (slack + released allocations). The state is SAFE iff all rows
  *    release; the release order is the safety sequence. Imperative
  *    replay + the safety-definition law in the spec.
  */
object Training109 {
  // ---------------------------------------------------------------- q487

  /** 31 equi-depth bounds from the deterministic 1-in-97 key sample. */
  private def rpBoundsSql(spark: Boolean, lineitemRel: String): String = {
    val h = if (spark) TextOps.hash60Spark("cast(l_orderkey as string)")
      else TextOps.hash60Duck("cast(l_orderkey as VARCHAR)")
    val idiv = if (spark) "div" else "//"
    s"""
      SELECT CAST(min(k) AS BIGINT) AS bound, CAST(q AS BIGINT) AS q
      FROM (
        SELECT k, rk * 32 $idiv (n + 1) AS q
        FROM (
          SELECT k, row_number() OVER (ORDER BY k) AS rk,
                 count(*) OVER () AS n
          FROM (SELECT DISTINCT l_orderkey AS k FROM $lineitemRel
                WHERE $h % 97 = 0) sample) ranked) bucketed
      WHERE q >= 1 AND q <= 31
      GROUP BY q ORDER BY q"""
  }

  private def rpFinalSql(spark: Boolean, lineitemRel: String, bounds: Seq[Long]): String = {
    val idiv = if (spark) "div" else "//"
    val h = if (spark) TextOps.hash60Spark("cast(l_orderkey as string)")
      else TextOps.hash60Duck("cast(l_orderkey as VARCHAR)")
    val rangePart = EquiDepthBins.searchCountExpr(
      "l_orderkey", bounds.map(_.toString), strict = true)
    s"""
      WITH loads AS (
        SELECT 'range_sampled' AS method,
               CAST($rangePart AS BIGINT) AS part, count(*) AS load
        FROM $lineitemRel GROUP BY 2
        UNION ALL
        SELECT 'hash', CAST(($h) % 32 AS BIGINT), count(*)
        FROM $lineitemRel GROUP BY 2)
      SELECT method,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(load) AS BIGINT) AS n_rows,
             CAST(max(load) AS BIGINT) AS max_load,
             CAST(min(load) AS BIGINT) AS min_load,
             CAST((max(load) * 32 * 1000000) $idiv sum(load) AS BIGINT)
               AS skew_ppm
      FROM loads GROUP BY method ORDER BY method"""
  }

  // ---------------------------------------------------------------- q488

  private def bankBaseSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    s"""
      procs AS $mat(
        SELECT c.c_mktsegment AS seg,
               CAST(3 + (count(*) % 11) AS BIGINT) AS acpu,
               CAST(3 + (CAST(sum(CAST(round(o.o_totalprice, 0) AS BIGINT))
                 AS BIGINT) $idiv 1000000) % 13 AS BIGINT) AS amem,
               CAST(1 + (count(*) % 5) AS BIGINT) AS needc,
               CAST(1 + (count(DISTINCT o.o_custkey) % 7) AS BIGINT) AS needm
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment)"""
  }

  /** One Banker's round: slack + allocations of already-released
    * processes fund the next release — the name-smallest fitting
    * process gets released_round = this round.
    */
  private def bankRoundSql(r: Int, stateRel: String): String =
    s"""
      SELECT s.seg, s.acpu, s.amem, s.needc, s.needm,
             CASE WHEN w.seg = s.seg THEN $r ELSE s.released END AS released
      FROM $stateRel s
      LEFT JOIN (
        SELECT seg FROM (
          SELECT t.seg, row_number() OVER (ORDER BY t.seg) AS pick
          FROM $stateRel t
          WHERE t.released = 0
            AND t.needc <= 2 + (SELECT coalesce(sum(u.acpu), 0)
                                FROM $stateRel u WHERE u.released > 0)
            AND t.needm <= 2 + (SELECT coalesce(sum(u.amem), 0)
                                FROM $stateRel u WHERE u.released > 0)) f
        WHERE pick = 1) w ON 1 = 1"""

  private def bankFinalSql(stateRel: String): String =
    s"""
      SELECT seg, acpu, amem, needc, needm,
             CAST(released AS BIGINT) AS released_round,
             CAST(CASE WHEN (SELECT min(CASE WHEN x.released > 0 THEN 1 ELSE 0 END)
                             FROM $stateRel x) = 1
                  THEN 1 ELSE 0 END AS BIGINT) AS all_safe
      FROM $stateRel ORDER BY seg"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q487_range_partitioner_balance",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("graft_rp_lineitem")
        // the 1-in-97 sample is a constant FRACTION of the keys (still
        // data-sized at 100 TB), so its rank comes from the two-phase
        // ScalableRank, not rpBoundsSql's global window (which stays as
        // the oracle form); same rk*32 div (n+1) bucketing, n by scalar
        val sample = s.sql(s"""
          SELECT DISTINCT l_orderkey AS k FROM graft_rp_lineitem
          WHERE ${TextOps.hash60Spark("cast(l_orderkey as string)")} % 97 = 0""")
          .localCheckpoint(true) // count + rank share ONE sample scan
        val n = sample.count() // driver-bounded: one scalar
        val bounds = graft.operators.ScalableRank
          .withRowNumber(sample, Seq(col("k")), "rk")
          .selectExpr("k", s"rk * 32 div ${n + 1}L AS q")
          .where("q >= 1 AND q <= 31")
          .groupBy("q").agg(min("k").as("bound"))
          .orderBy("q")
          // driver-bounded: 31 boundary values
          .collect().map(_.getAs[Long]("bound")).toSeq
        s.sql(rpFinalSql(spark = true, "graft_rp_lineitem", bounds))
      },
      // the oracle computes the SAME sampled bounds inline and assigns
      // partitions by counting bounds strictly below the key — tie-
      // identical to the literal binary-search tree (both place
      // key == bound in the lower partition, and duplicate bounds count
      // the same on both sides).
      Some {
        val h = TextOps.hash60Duck("cast(l_orderkey as VARCHAR)")
        s"""
          WITH boundst AS MATERIALIZED (${rpBoundsSql(spark = false, "lineitem")}),
          parts AS MATERIALIZED (
            SELECT 'range_sampled' AS method,
                   CAST((SELECT count(*) FROM boundst b
                         WHERE b.bound < l.l_orderkey) AS BIGINT) AS part
            FROM lineitem l
            UNION ALL
            SELECT 'hash', CAST(($h) % 32 AS BIGINT)
            FROM lineitem l),
          loads AS (
            SELECT method, part, count(*) AS load
            FROM parts GROUP BY 1, 2)
          SELECT method,
                 CAST(count(*) AS BIGINT) AS n_parts,
                 CAST(sum(load) AS BIGINT) AS n_rows,
                 CAST(max(load) AS BIGINT) AS max_load,
                 CAST(min(load) AS BIGINT) AS min_load,
                 CAST((max(load) * 32 * 1000000) // sum(load) AS BIGINT)
                   AS skew_ppm
          FROM loads GROUP BY method ORDER BY method"""
      }),

    QueryDef(
      "q488_bankers_safety",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_bk_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_bk_customer")
        var state = Iterate.ckpt(s.sql(
          s"""WITH ${bankBaseSql(spark = true, "graft_bk_orders", "graft_bk_customer")}
              SELECT seg, acpu, amem, needc, needm, 0 AS released
              FROM procs""").coalesce(1))
        for (r <- 1 to 5) {
          state.createOrReplaceTempView("graft_bk_state")
          state = Iterate.ckpt(s.sql(bankRoundSql(r, "graft_bk_state")).coalesce(1))
        }
        state.createOrReplaceTempView("graft_bk_final")
        s.sql("WITH final AS (SELECT * FROM graft_bk_final) " +
          bankFinalSql("final").trim)
      },
      Some {
        val rounds = (1 to 5).map(r =>
          s"st$r AS MATERIALIZED (${bankRoundSql(r, s"st${r - 1}")})").mkString(",\n")
        s"""
          WITH ${bankBaseSql(spark = false, "orders", "customer")},
          st0 AS (SELECT seg, acpu, amem, needc, needm, 0 AS released
                  FROM procs),
          $rounds
          ${bankFinalSql("st5")}"""
      }),
  )
}
