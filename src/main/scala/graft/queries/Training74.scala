package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-fourth wave — weighted shortest paths, design-based
  * estimation, and row-level security:
  *
  *  - q388: Bellman–Ford weighted shortest paths — edge weight is
  *    1e6/overlap (stronger co-purchase ties are shorter), relaxation
  *    runs as hop-bounded keyed-min rounds (each round: one join +
  *    one groupBy over NODE-sized state, never path enumeration — the
  *    oracle mirrors the rounds as materialized CTE stages, the q245
  *    discipline). The weighted sibling of q307's unweighted BFS.
  *  - q389: Horvitz–Thompson estimation over the q308 systematic PPS
  *    sample — revenue-weighted inclusion probabilities π = w/step
  *    estimate a DIFFERENT total (quantity) as Σ q/π, all in integer
  *    micro-arithmetic so the estimate itself is hash-oracled, not
  *    just bounded. The survey-sampling completion of the PPS family:
  *    at 100 TB you estimate expensive totals from the index-sized
  *    sample without scanning the fact twice.
  *  - q390: row-level security view — a TEMP VIEW filters on a
  *    SESSION VARIABLE (tenant id); the SAME view re-evaluated under
  *    two SET VAR values returns disjoint tenant slices (proving the
  *    policy binds at query time, not view-creation time). The
  *    multi-tenant serving pattern: one audited view, per-session
  *    scoping, no per-tenant view sprawl.
  */
object Training74 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Bellman–Ford: overlap-weighted co-purchase graph (edges
    // with ≥2 shared orders), source = md5-min node, 4 relaxation
    // rounds. State per round is (node, best_dist) — node-sized,
    // localCheckpoint'd; output = 10 nearest nodes.
    QueryDef(
      "q388_weighted_shortest_path",
      (s, d) => {
        val op = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val ew = op.as("a").join(op.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .selectExpr("u", "v", "1000000 div cnt AS w")
        val und = ew.unionByName(
            ew.selectExpr("v AS u", "u AS v", "w"))
          .localCheckpoint()
        val src = und.select(col("u").as("node")).distinct()
          .orderBy(md5(col("node").cast("string")), col("node"))
          .limit(1)
        var dist = src.select(col("node"), lit(0L).as("dist"))
          .localCheckpoint(true)
        for (_ <- 1 to 4) {
          val relaxed = und
            .join(dist.withColumnRenamed("node", "u"), "u")
            .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
          dist = dist.unionByName(relaxed)
            .groupBy("node").agg(min("dist").as("dist"))
            .localCheckpoint(true)
        }
        dist.filter(col("dist") > 0)
          .orderBy(col("dist"), col("node"))
          .limit(10)
      },
      Some("""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        ew AS MATERIALIZED (
          SELECT u, v, 1000000 // cnt AS w FROM (
            SELECT a.p AS u, b.p AS v, count(*) AS cnt
            FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2) c WHERE cnt >= 2),
        und AS MATERIALIZED (
          SELECT u, v, w FROM ew
          UNION ALL SELECT v, u, w FROM ew),
        src AS (
          SELECT u AS node FROM (SELECT DISTINCT u FROM und) n
          ORDER BY md5(CAST(u AS VARCHAR)), u LIMIT 1),
        d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM src),
        d1 AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d0
            UNION ALL
            SELECT und.v, d0.dist + und.w FROM d0
            JOIN und ON und.u = d0.node) x GROUP BY node),
        d2 AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT und.v, d1.dist + und.w FROM d1
            JOIN und ON und.u = d1.node) x GROUP BY node),
        d3 AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT und.v, d2.dist + und.w FROM d2
            JOIN und ON und.u = d2.node) x GROUP BY node),
        d4 AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d3
            UNION ALL
            SELECT und.v, d3.dist + und.w FROM d3
            JOIN und ON und.u = d3.node) x GROUP BY node)
        SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
        WHERE dist > 0 ORDER BY dist, node LIMIT 10""")),

    // ---- Horvitz–Thompson: sample = q308's boundary-crossing parts
    // (inclusion prob π_i = min(1, w_i/step) under systematic PPS);
    // estimate total QUANTITY as Σ q_i/π_i in micro-integers. The
    // estimate, the exact total, and the signed error (ppm) are all
    // declared — both engines compute the identical integers.
    QueryDef(
      "q389_horvitz_thompson",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val rev = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
            .as("w_cents"),
            sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
          .localCheckpoint(true) // totals scalar + prefix pass share one scan
        val tot = rev.agg(sum("w_cents").as("total"),
          sum("qty").as("exact_qty"))
        // two-phase prefix sum, not a global window: the cumulative
        // weight runs over the PART dimension (data-sized at 100 TB)
        val sampled = graft.operators.ScalableRank
          .withPrefixSum(rev, Seq(col("pk")), col("w_cents"), "cum")
          .crossJoin(broadcast(tot))
          .withColumn("step", greatest(expr("total div 64"), lit(1L)))
          .filter(expr("cum div step > (cum - w_cents) div step"))
        sampled
          .selectExpr("exact_qty",
            // q/π = q·step/w for w<step else q, in DECIMAL(38,0)
            """CASE WHEN w_cents >= step THEN CAST(qty AS DECIMAL(38,0))
               ELSE (CAST(qty AS DECIMAL(38,0)) * step) div w_cents
               END AS ht_i""")
          .groupBy("exact_qty")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("ht_i")).cast("long").as("ht_qty"))
          .selectExpr("n_sampled", "exact_qty", "ht_qty",
            """CASE WHEN ht_qty >= exact_qty
               THEN (1000000 * (ht_qty - exact_qty)) div exact_qty
               ELSE -((1000000 * (exact_qty - ht_qty)) div exact_qty)
               END AS err_ppm""")
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey AS pk,
                 SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS w_cents,
                 SUM(CAST(l_quantity AS BIGINT)) AS qty
          FROM lineitem GROUP BY 1),
        c AS (
          SELECT pk, w_cents, qty,
                 SUM(w_cents) OVER (ORDER BY pk) AS cum,
                 SUM(w_cents) OVER () AS total,
                 SUM(qty) OVER () AS exact_qty
          FROM rev),
        s AS (
          SELECT *, greatest(total // 64, 1) AS step FROM c
          WHERE cum // greatest(total // 64, 1)
                > (cum - w_cents) // greatest(total // 64, 1))
        SELECT CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(exact_qty AS BIGINT) AS exact_qty,
               CAST(SUM(CASE WHEN w_cents >= step THEN CAST(qty AS HUGEINT)
                     ELSE (CAST(qty AS HUGEINT) * step) // w_cents END)
                 AS BIGINT) AS ht_qty,
               CAST(CASE WHEN SUM(CASE WHEN w_cents >= step
                           THEN CAST(qty AS HUGEINT)
                           ELSE (CAST(qty AS HUGEINT) * step) // w_cents END)
                          >= exact_qty
                 THEN (1000000 * (SUM(CASE WHEN w_cents >= step
                           THEN CAST(qty AS HUGEINT)
                           ELSE (CAST(qty AS HUGEINT) * step) // w_cents END)
                         - exact_qty)) // exact_qty
                 ELSE -((1000000 * (exact_qty
                         - SUM(CASE WHEN w_cents >= step
                           THEN CAST(qty AS HUGEINT)
                           ELSE (CAST(qty AS HUGEINT) * step) // w_cents END)))
                        // exact_qty)
                 END AS BIGINT) AS err_ppm
        FROM s GROUP BY exact_qty""")),

    // ---- row-level security: ONE temp view, filtered by the session
    // variable; two SET VARs prove query-time binding. Declared output
    // = both tenants' censuses from the same view object.
    QueryDef(
      "q390_row_policy_view",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("graft_cust_rls")
        s.sql("DECLARE OR REPLACE VARIABLE graft_tenant STRING")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_rls AS
          SELECT c_custkey, c_nationkey, c_acctbal
          FROM graft_cust_rls
          WHERE c_mktsegment = graft_tenant""")
        def slice(tenant: String): DataFrame = {
          s.sql(s"SET VAR graft_tenant = '$tenant'")
          s.sql("""SELECT graft_tenant AS tenant, count(*) AS n,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                AS sum_bal
            FROM graft_rls""")
          // eager: the variable is rebound before the next slice
            .localCheckpoint(true)
        }
        slice("BUILDING").unionByName(slice("MACHINERY"))
          .orderBy("tenant")
      },
      Some("""
        SELECT c_mktsegment AS tenant, count(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                 AS sum_bal
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1 ORDER BY tenant""")),
  )
}
