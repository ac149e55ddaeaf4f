package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Sixty-eighth wave — distributed statistics and replica repair:
  *
  *  - q371: Poisson bootstrap confidence interval — THE distributed
  *    bootstrap (each row's per-resample multiplicity is drawn
  *    independently, so resampling is a map-side weight, never a
  *    resample shuffle), with hash-derived draws so the CI is
  *    deterministic and hash-oracled.
  *  - q372: Merkle anti-entropy — locate the rows that differ between
  *    two table replicas by digest-tree descent, touching only the
  *    subtrees that mismatch (the replication-repair shape: bandwidth
  *    scales with the DAMAGE, not the table).
  *  - q373: FK-topology load layers — inclusion-dependency checks
  *    derive the table dependency DAG from the DATA, and the
  *    longest-path layering is the ETL schedule (which tables can load
  *    in parallel).
  */
object Training68 {
  /** Poisson(1) multiplicity from a 6-dp uniform via inverse CDF; the
    * cumulative thresholds are plan-time literals identical in both
    * dialects (CDF: e⁻¹, 2e⁻¹, 2.5e⁻¹ … rounded to 6 dp).
    */
  private def poissonCase(u: String): String =
    s"""CASE WHEN $u < 0.367879 THEN 0
        WHEN $u < 0.735759 THEN 1
        WHEN $u < 0.919699 THEN 2
        WHEN $u < 0.981012 THEN 3
        WHEN $u < 0.996340 THEN 4
        ELSE 5 END"""

  val defs: Seq[QueryDef] = Seq(

    // ---- Poisson bootstrap (B = 32 resamples) of the mean order
    // price: row r's multiplicity in resample b is
    // PoissonInv(hash-uniform(r, b)) — independent per (row, resample),
    // which is what makes the bootstrap a per-row GENERATE (×32) into
    // one 32-key aggregate instead of B shuffled resamples. The CI is
    // the 2nd-smallest/2nd-largest resample mean (a ~94% interval at
    // B = 32). Exact integer cents with half-up means ⇒ the interval
    // is bit-deterministic — a reproducible error bar, which is what
    // a data-quality gate needs from a bootstrap.
    QueryDef(
      "q371_poisson_bootstrap_ci",
      (s, d) => {
        val u = s"(${hash60Spark("concat(cast(o_orderkey as string), ':', cast(b as string))")} % 1000000) / 1000000.0"
        val means = Tables(s, d, "orders")
          .select(col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("x"))
          .select(col("o_orderkey"), col("x"),
            explode(expr("sequence(0, 31)")).as("b"))
          .withColumn("w", expr(poissonCase(u)).cast("long"))
          .groupBy("b")
          .agg(sum(col("w") * col("x")).as("wx"), sum("w").as("wn"))
          .select(col("b"),
            expr("(2 * wx + wn) div (2 * wn)").as("m"))
          .localCheckpoint() // both CI cuts read the 32-row table
        val lo = means.orderBy(col("m").asc, col("b").asc).limit(2)
          .agg(max("m").as("ci_lo_cents"))
        val hi = means.orderBy(col("m").desc, col("b").desc).limit(2)
          .agg(min("m").as("ci_hi_cents"))
        val base = Tables(s, d, "orders")
          .agg(count(lit(1)).as("n"),
            expr("""(2 * sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    + count(1)) div (2 * count(1))""").as("mean_cents"))
        base.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      },
      Some {
        val u = s"(${hash60Duck("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")} % 1000000) / 1000000.0"
        s"""
        WITH rows_b AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x, b.b
          FROM orders, (SELECT unnest(range(0, 32)) AS b) b),
        w AS (
          SELECT b, CAST(${poissonCase(u)} AS BIGINT) AS w, x FROM rows_b),
        means AS (
          SELECT b,
                 (2 * CAST(sum(w * x) AS BIGINT) + CAST(sum(w) AS BIGINT))
                   // (2 * CAST(sum(w) AS BIGINT)) AS m
          FROM w GROUP BY b),
        lo AS (SELECT max(m) AS ci_lo_cents FROM
                 (SELECT m FROM means ORDER BY m, b LIMIT 2) z),
        hi AS (SELECT min(m) AS ci_hi_cents FROM
                 (SELECT m FROM means ORDER BY m DESC, b DESC LIMIT 2) z),
        base AS (
          SELECT count(*) AS n,
                 (2 * CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) + count(*)) // (2 * count(*)) AS mean_cents
          FROM orders)
        SELECT n, mean_cents, ci_lo_cents, ci_hi_cents FROM base, lo, hi"""
      }),

    // ---- Merkle anti-entropy: replica v1 of the orders key/cents
    // table is silently tampered in one contiguous key range (cents+1
    // for keys in [1000, 1100) — the corrupted-file shape). Both
    // replicas build the same 2-level digest tree over KEY RANGES
    // (leaf = (k div 64) mod 256, group = leaf div 16 — range
    // bucketing, not hash bucketing, is what gives anti-entropy its
    // locality: clustered damage stays in few subtrees; digest =
    // bit_xor of per-row hashes — order-independent and mergeable, so
    // each level is ONE keyed agg). The repair protocol compares 16
    // group digests, DESCENDS only into mismatched groups, and ships
    // only the mismatched leaf buckets — comparisons and repair
    // bandwidth scale with the DAMAGE, not the table (the spec pins
    // n_leaves_checked ≪ 256). All counts exact.
    QueryDef(
      "q372_merkle_antientropy",
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("c"))
        def tree(df: DataFrame, tag: String): DataFrame =
          df.withColumn("leaf", expr("(k div 64) % 256"))
            .withColumn("h", expr(
              hash60Spark("concat(cast(k as string), ':', cast(c as string))")))
            .groupBy("leaf")
            .agg(expr("bit_xor(h)").as(s"ld_$tag"),
              count(lit(1)).as(s"n_$tag"))
            .withColumn("grp", expr("leaf div 16"))
        val v0 = tree(base, "a")
        val v1 = tree(base.withColumn("c",
          when(col("k") >= 1000 && col("k") < 1100, col("c") + 1)
            .otherwise(col("c"))), "b")
        val leaves = v0.join(v1, Seq("leaf", "grp"), "full_outer")
          .localCheckpoint() // group compare + descent read it
        val badGroups = leaves.groupBy("grp")
          .agg(expr("bit_xor(ld_a)").as("ga"), expr("bit_xor(ld_b)").as("gb"))
          .filter(col("ga") =!= col("gb"))
          .select("grp")
        val checked = leaves.join(broadcast(badGroups), "grp")
        checked
          .agg(
            countDistinct("grp").as("n_groups_mismatch"),
            count(lit(1)).as("n_leaves_checked"),
            sum(when(col("ld_a") =!= col("ld_b"), 1L).otherwise(0L))
              .as("n_leaves_mismatch"),
            sum(when(col("ld_a") =!= col("ld_b"), col("n_b")).otherwise(0L))
              .as("n_rows_suspect"))
      },
      Some {
        val rh = hash60Duck("CAST(k AS VARCHAR) || ':' || CAST(c AS VARCHAR)")
        s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
          FROM orders),
        va AS (
          SELECT (k // 64) % 256 AS leaf, bit_xor($rh) AS ld_a, count(*) AS n_a
          FROM base GROUP BY 1),
        vb AS (
          SELECT (k // 64) % 256 AS leaf, bit_xor($rh) AS ld_b, count(*) AS n_b
          FROM (SELECT k, CASE WHEN k >= 1000 AND k < 1100 THEN c + 1 ELSE c END AS c
                FROM base) z
          GROUP BY 1),
        leaves AS (
          SELECT coalesce(va.leaf, vb.leaf) AS leaf,
                 coalesce(va.leaf, vb.leaf) // 16 AS grp, ld_a, ld_b, n_b
          FROM va FULL OUTER JOIN vb ON va.leaf = vb.leaf),
        bad AS (
          SELECT grp FROM (
            SELECT grp, bit_xor(ld_a) AS ga, bit_xor(ld_b) AS gb
            FROM leaves GROUP BY 1) z
          WHERE ga <> gb),
        checked AS (SELECT leaves.* FROM leaves JOIN bad USING (grp))
        SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n_groups_mismatch,
               count(*) AS n_leaves_checked,
               CAST(sum(CASE WHEN ld_a <> ld_b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_leaves_mismatch,
               CAST(sum(CASE WHEN ld_a <> ld_b THEN n_b ELSE 0 END) AS BIGINT)
                 AS n_rows_suspect
        FROM checked"""
      }),

    // ---- FK-topology load layers: the candidate FK edges are CHECKED
    // AGAINST THE DATA (distinct anti-join = 0 violations ⇒ the edge
    // holds — the q354 IND machinery), and the surviving DAG's
    // longest-path layering is the ETL load schedule: layer-1 tables
    // have no parents and load first, each later layer waits only on
    // the previous. Checks are one distinct anti-join per edge; the
    // layering runs on the ≤7-node table graph (driver-side peel).
    QueryDef(
      "q373_fk_topology_layers",
      (s, d) => {
        val cands: Seq[(String, String, DataFrame, String, DataFrame, String)] = Seq(
          ("lineitem", "orders", Tables(s, d, "lineitem"), "l_orderkey",
            Tables(s, d, "orders"), "o_orderkey"),
          ("lineitem", "part", Tables(s, d, "lineitem"), "l_partkey",
            Tables(s, d, "part"), "p_partkey"),
          ("orders", "customer", Tables(s, d, "orders"), "o_custkey",
            Tables(s, d, "customer"), "c_custkey"),
          ("customer", "nation", Tables(s, d, "customer"), "c_nationkey",
            Tables(s, d, "nation"), "n_nationkey"),
          ("supplier", "nation", Tables(s, d, "supplier"), "s_nationkey",
            Tables(s, d, "nation"), "n_nationkey"),
          ("nation", "region", Tables(s, d, "nation"), "n_regionkey",
            Tables(s, d, "region"), "r_regionkey"))
        val holds = cands.filter { case (_, _, a, ac, b, bc) =>
          a.select(col(ac).cast("long").as("v")).distinct()
            .join(b.select(col(bc).cast("long").as("v")).distinct(),
              Seq("v"), "left_anti")
            .isEmpty
        }.map { case (child, parent, _, _, _, _) => (child, parent) }
        val tables = Seq("customer", "lineitem", "nation", "orders",
          "part", "region", "supplier")
        val layer = scala.collection.mutable.Map[String, Int]()
        var l = 1
        var remaining = tables.toSet
        while (remaining.nonEmpty) {
          val ready = remaining.filter(tn =>
            holds.forall { case (c, p) => c != tn || !remaining.contains(p) })
          require(ready.nonEmpty, "cycle in FK graph")
          ready.foreach(layer(_) = l)
          remaining --= ready
          l += 1
        }
        import s.implicits._
        tables.map(tn => (tn, layer(tn),
            holds.count(_._1 == tn).toLong))
          .toDF("table_name", "load_layer", "n_parents")
          .orderBy("table_name")
      },
      Some("""
        WITH RECURSIVE cand(child, parent, viol) AS (
          SELECT 'lineitem', 'orders',
                 (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) z)
          UNION ALL SELECT 'lineitem', 'part',
                 (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem
                  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)) z)
          UNION ALL SELECT 'orders', 'customer',
                 (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) z)
          UNION ALL SELECT 'customer', 'nation',
                 (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer
                  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) z)
          UNION ALL SELECT 'supplier', 'nation',
                 (SELECT count(*) FROM (SELECT DISTINCT s_nationkey FROM supplier
                  WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)) z)
          UNION ALL SELECT 'nation', 'region',
                 (SELECT count(*) FROM (SELECT DISTINCT n_regionkey FROM nation
                  WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)) z)),
        holds AS (SELECT child, parent FROM cand WHERE viol = 0),
        tabs(t) AS (VALUES ('customer'), ('lineitem'), ('nation'),
                           ('orders'), ('part'), ('region'), ('supplier')),
        lay(t, l) AS (
          SELECT t, 1 FROM tabs
          WHERE t NOT IN (SELECT child FROM holds)
          UNION ALL
          SELECT h.child, lay.l + 1
          FROM holds h JOIN lay ON lay.t = h.parent),
        fin AS (SELECT t, max(l) AS load_layer FROM lay GROUP BY t)
        SELECT fin.t AS table_name, CAST(load_layer AS INTEGER) AS load_layer,
               (SELECT count(*) FROM holds WHERE child = fin.t) AS n_parents
        FROM fin ORDER BY table_name""")),
  )
}
