package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{Iterate, QueryDef, Tables}

/** Hundred-eighth wave — allocation and decision classics:
  *
  *  - q484: dominant-resource-fairness scheduling (Ghodsi et al.,
  *    NSDI'11) — 5 tenants (market segments) with data-derived
  *    (cpu, mem) task demands share a 4000×4000 cluster; each of 40
  *    rounds allocates one task to the FITTING tenant with the lowest
  *    dominant share (equal capacities ⇒ the dominant share ordering is
  *    plain max(cpu, mem) — exact integers). Saturation rounds are
  *    no-ops, so the fixed-round loop and a while-loop agree. The DRF
  *    fairness law (dominant shares equalize to within one task's
  *    demand) is spec-pinned.
  *  - q485: 0/1 knapsack over part keys 1-24 (weight =
  *    1 + p_size mod 10, value = retail cents) at capacity 60 — the
  *    textbook DP as 24 relational rounds over a 61-row capacity state
  *    (`Iterate.ckpt` per round; 24 chained MATERIALIZED CTEs in the
  *    oracle). Output: the optimum at six capacity cuts, monotone in
  *    capacity by construction.
  *  - q486: newsvendor stocking — per-segment daily demand, underage 3
  *    : overage 1 ⇒ the critical fractile is the smallest stock s with
  *    4·rank(s) ≥ 3·n (exact discrete quantile); the expected-cost
  *    objective Σ 3·max(0, d−s) + max(0, s−d) is evaluated at s* and at
  *    the mean stock — cost(s*) ≤ cost(mean) is the optimality law the
  *    spec re-proves by scanning EVERY candidate stock.
  */
object Training108 {
  // ---------------------------------------------------------------- q484

  private def drfBaseSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    s"""
      demands AS $mat(
        SELECT c.c_mktsegment AS seg,
               CAST(2 + (count(*) % 7) AS BIGINT) AS dcpu,
               CAST(2 + (CAST(sum(CAST(round(o.o_totalprice, 0) AS BIGINT))
                 AS BIGINT) $idiv 1000000) % 9 AS BIGINT) AS dmem
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment)"""
  }

  /** One DRF round: among tenants whose next task still fits in the
    * remaining (4000, 4000), allocate to the one with the smallest
    * dominant share (max(cpu, mem); ties by segment name).
    */
  private def drfRoundSql(stateRel: String): String =
    s"""
      SELECT s.seg, s.dcpu, s.dmem,
             s.cpu + CASE WHEN w.seg = s.seg THEN s.dcpu ELSE 0 END AS cpu,
             s.mem + CASE WHEN w.seg = s.seg THEN s.dmem ELSE 0 END AS mem,
             s.ntasks + CASE WHEN w.seg = s.seg THEN 1 ELSE 0 END AS ntasks
      FROM $stateRel s
      LEFT JOIN (
        SELECT seg FROM (
          SELECT t.seg,
                 row_number() OVER (
                   ORDER BY greatest(t.cpu, t.mem), t.seg) AS pick
          FROM $stateRel t
          WHERE t.cpu + t.dcpu <=
                  4000 - (SELECT sum(u.cpu) FROM $stateRel u) + t.cpu
            AND t.mem + t.dmem <=
                  4000 - (SELECT sum(u.mem) FROM $stateRel u) + t.mem) f
        WHERE pick = 1) w ON 1 = 1"""

  // ---------------------------------------------------------------- q485

  private def ksBaseSql(spark: Boolean, partRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    s"""
      items AS $mat(
        SELECT CAST(p_partkey AS BIGINT) AS i,
               CAST(1 + p_size % 10 AS BIGINT) AS w,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) AS v
        FROM $partRel WHERE p_partkey BETWEEN 1 AND 24),
      caps AS $mat(SELECT CAST(c AS BIGINT) AS c FROM ${if (spark) "(SELECT explode(sequence(0, 60)) AS c)" else "(SELECT unnest(range(0, 61)) AS c)"} capsrc),
      dp0 AS (SELECT c, CAST(0 AS BIGINT) AS best FROM caps)"""
  }

  private def ksRoundSql(i: Int, dpPrev: String): String =
    s"""
      SELECT d.c,
             CAST(greatest(d.best,
               coalesce(p.best + it.v, CAST(-1 AS BIGINT)))
               AS BIGINT) AS best
      FROM $dpPrev d
      CROSS JOIN (SELECT w, v FROM items WHERE i = $i) it
      LEFT JOIN $dpPrev p ON p.c = d.c - it.w"""

  private val ksFinalSql: String =
    s"""
      SELECT c AS capacity, best AS optimum
      FROM dpF WHERE c % 10 = 0 AND c > 0 ORDER BY c"""

  // ---------------------------------------------------------------- q486

  private def nvSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val idiv = if (spark) "div" else "//"
    s"""
      WITH demand AS $mat(
        SELECT c.c_mktsegment AS seg, CAST(o.o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS d
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      ranked AS $mat(
        SELECT seg, d,
               row_number() OVER (PARTITION BY seg ORDER BY d, day) AS rk,
               count(*) OVER (PARTITION BY seg) AS n
        FROM demand),
      sstar AS $mat(
        SELECT seg, min(d) AS s_star, max(n) AS n
        FROM ranked WHERE 4 * rk >= 3 * n GROUP BY seg),
      smean AS $mat(
        SELECT seg, CAST(sum(d) $idiv count(*) AS BIGINT) AS s_mean
        FROM demand GROUP BY seg),
      costs AS $mat(
        SELECT de.seg,
               CAST(sum(3 * greatest(de.d - st.s_star, CAST(0 AS BIGINT))
                 + greatest(st.s_star - de.d, CAST(0 AS BIGINT))) AS BIGINT)
                 AS cost_star,
               CAST(sum(3 * greatest(de.d - sm.s_mean, CAST(0 AS BIGINT))
                 + greatest(sm.s_mean - de.d, CAST(0 AS BIGINT))) AS BIGINT)
                 AS cost_mean
        FROM demand de
        JOIN sstar st ON st.seg = de.seg
        JOIN smean sm ON sm.seg = de.seg
        GROUP BY de.seg)
      SELECT st.seg, st.s_star, sm.s_mean, co.cost_star, co.cost_mean,
             CAST(st.n AS BIGINT) AS n_days
      FROM sstar st
      JOIN smean sm ON sm.seg = st.seg
      JOIN costs co ON co.seg = st.seg
      ORDER BY st.seg"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q484_drf_allocation",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_drf_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_drf_customer")
        var state = Iterate.ckpt(s.sql(
          s"""WITH ${drfBaseSql(spark = true, "graft_drf_orders", "graft_drf_customer")}
              SELECT seg, dcpu, dmem, CAST(0 AS BIGINT) AS cpu,
                     CAST(0 AS BIGINT) AS mem, CAST(0 AS BIGINT) AS ntasks
              FROM demands""").coalesce(1))
        for (_ <- 1 to 40) {
          state.createOrReplaceTempView("graft_drf_state")
          state = Iterate.ckpt(s.sql(drfRoundSql("graft_drf_state")).coalesce(1))
        }
        state.createOrReplaceTempView("graft_drf_final")
        s.sql("""
          SELECT seg, dcpu, dmem, ntasks, cpu, mem,
                 CAST(greatest(cpu, mem) * 1000000 div 4000 AS BIGINT)
                   AS dominant_ppm
          FROM graft_drf_final ORDER BY seg""")
      },
      Some {
        val rounds = (1 to 40).map(r =>
          s"st$r AS MATERIALIZED (${drfRoundSql(s"st${r - 1}")})").mkString(",\n")
        s"""
          WITH ${drfBaseSql(spark = false, "orders", "customer")},
          st0 AS (SELECT seg, dcpu, dmem, CAST(0 AS BIGINT) AS cpu,
                         CAST(0 AS BIGINT) AS mem, CAST(0 AS BIGINT) AS ntasks
                  FROM demands),
          $rounds
          SELECT seg, dcpu, dmem, ntasks, cpu, mem,
                 CAST(greatest(cpu, mem) * 1000000 // 4000 AS BIGINT)
                   AS dominant_ppm
          FROM st40 ORDER BY seg"""
      }),

    QueryDef(
      "q485_knapsack_dp",
      (s, d) => {
        Tables(s, d, "part").createOrReplaceTempView("graft_ks_part")
        val base = ksBaseSql(spark = true, "graft_ks_part")
        val items = Iterate.ckpt(s.sql(s"WITH $base SELECT * FROM items").coalesce(1))
        items.createOrReplaceTempView("items")
        var dp = Iterate.ckpt(s.sql(s"WITH $base SELECT * FROM dp0").coalesce(1))
        for (i <- 1 to 24) {
          dp.createOrReplaceTempView("graft_ks_dp")
          dp = Iterate.ckpt(s.sql(ksRoundSql(i, "graft_ks_dp")).coalesce(1))
        }
        dp.createOrReplaceTempView("dpF")
        s.sql(ksFinalSql)
      },
      Some {
        val rounds = (1 to 24).map(i =>
          s"dp$i AS MATERIALIZED (${ksRoundSql(i, s"dp${i - 1}")})").mkString(",\n")
        s"""
          WITH ${ksBaseSql(spark = false, "part")},
          $rounds,
          dpF AS (SELECT * FROM dp24)
          $ksFinalSql"""
      }),

    QueryDef(
      "q486_newsvendor_quantile",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_nv_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_nv_customer")
        s.sql(nvSql(spark = true, "graft_nv_orders", "graft_nv_customer"))
      },
      Some(nvSql(spark = false, "orders", "customer"))),
  )
}
