package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-seventh wave — learned indexes and weighted closure:
  *
  *  - q425: learned-index error analysis (RMI-lite) — rank ≈ a + b·key
  *    fitted per 64 equal-count slabs of the sorted key space with the
  *    q378 integer normal equations; the per-slab MAX |predicted −
  *    true| rank error is the epsilon that sizes a learned index's
  *    final binary-search window (Kraska et al.'s core quantity).
  *    Everything derives from ONE ranked dictionary pass; the fit and
  *    the error audit are exact integers, so epsilon is hash-oracled.
  *  - q426: bill-of-materials EXPLOSION — a synthetic 4-ary assembly
  *    tree over parts (parent = key div 4, per-edge multiplicity
  *    key%3+1) unrolled by a recursive traversal that MULTIPLIES
  *    quantities along paths (the weighted transitive closure that
  *    q200's additive rollup cannot express): total units of each
  *    leaf needed per root assembly.
  */
object Training87 {
  /** q426's closed form: the BOM tree is implicit arithmetic (parent =
    * key div 4, multiplicity = node % 3 + 1), so each leaf's root,
    * depth, and path-multiplicity product are per-row KeyHierarchy
    * expressions — the whole explosion is ONE scan + ONE keyed agg,
    * no UnionLoop. Bit-identical to the recursion (exact BIGINT
    * div/%/×); KeyHierarchySpec pins branch equality + a JVM walk.
    */
  private[graft] def q426ClosedForm(parts: DataFrame): DataFrame = {
    import graft.operators.KeyHierarchy
    val units =
      KeyHierarchy.pathProductSql("p_partkey", 4L, n => s"($n % 3 + 1)")
    parts
      .selectExpr(
        s"CAST(${KeyHierarchy.rootSql("p_partkey", 4L)} AS BIGINT) AS root",
        s"CAST($units AS BIGINT) AS units",
        s"CAST(${KeyHierarchy.depthSql("p_partkey", 4L)} AS BIGINT) AS depth")
      .groupBy("root")
      .agg(
        count(lit(1)).cast("bigint").as("n_leaves"),
        sum("units").cast("bigint").as("total_units"),
        max("depth").cast("bigint").as("max_depth"))
      .orderBy("root")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q425_learned_index_error",
      (s, d) => {
        // the indexed key space: distinct extendedprice cents, ranked.
        // Two-phase ScalableRank, not a global row_number window: the
        // rank dictionary is value-space-sized (distinct cents), which
        // grows with price cardinality — the same class the q436
        // borderline named. Bit-identical ranks, nothing data-sized in
        // one task.
        val keys = graft.operators.ScalableRank.withRowNumber(
          Tables(s, d, "lineitem")
            .selectExpr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS k")
            .distinct(),
          Seq(col("k")), "__rn")
          .withColumn("r", col("__rn") - 1)
          .drop("__rn")
          .localCheckpoint() // slab fit and error audit read it twice
        val n = keys.count()
        val slabs = keys.withColumn("slab", expr(s"r div ${math.max(n / 64, 1)}"))
        val fits = slabs.groupBy("slab")
          .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
            sum(col("k").cast("decimal(38,0)")).as("sk"),
            sum(col("r").cast("decimal(38,0)")).as("sr"),
            sum((col("k") * col("k")).cast("decimal(38,0)")).as("skk"),
            sum((col("k") * col("r")).cast("decimal(38,0)")).as("skr"))
          // slope/intercept in micro units via the centered form
          .selectExpr("slab", "m",
            "m * skk - sk * sk AS den",
            "m * skr - sk * sr AS num", "sk", "sr")
          .selectExpr("slab", "m", "sk", "sr",
            """CASE WHEN num >= 0
               THEN (2000000 * num + den) div (2 * nullif(den, 0))
               ELSE -((2000000 * (-num) + den) div (2 * nullif(den, 0)))
               END AS b_micro""")
          .selectExpr("slab", "b_micro",
            // a_micro = (1e6·sr − b_micro·sk) / m, half-up
            """CASE WHEN 1000000 * sr - b_micro * sk >= 0
               THEN (2 * (1000000 * sr - b_micro * sk) + m)
                    div (2 * m)
               ELSE -((2 * (b_micro * sk - 1000000 * sr) + m)
                    div (2 * m)) END AS a_micro""")
        slabs.join(fits, "slab")
          .selectExpr("slab",
            // predicted rank (floor of micro estimate), |error|
            """abs(((a_micro + b_micro * k) div 1000000) - r)
               AS err""")
          .groupBy("slab")
          .agg(count(lit(1)).as("n_keys"), max("err").as("epsilon"))
          .agg(count(lit(1)).as("n_slabs"),
            sum("n_keys").as("n_keys"),
            max("epsilon").as("max_epsilon"),
            expr("(2 * sum(epsilon) + count(1)) div (2 * count(1))")
              .as("mean_epsilon"))
      },
      Some("""
        WITH keys AS (
          SELECT k, row_number() OVER (ORDER BY k) - 1 AS r
          FROM (SELECT DISTINCT
                  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS k
                FROM lineitem) d),
        n AS (SELECT count(*) AS n FROM keys),
        slabs AS (
          SELECT k, r, r // greatest(n.n // 64, 1) AS slab
          FROM keys, n),
        fits AS (
          SELECT slab, CAST(count(*) AS HUGEINT) AS m,
                 CAST(sum(CAST(k AS HUGEINT)) AS HUGEINT) AS sk,
                 CAST(sum(CAST(r AS HUGEINT)) AS HUGEINT) AS sr,
                 CAST(sum(CAST(k AS HUGEINT) * k) AS HUGEINT) AS skk,
                 CAST(sum(CAST(k AS HUGEINT) * r) AS HUGEINT) AS skr
          FROM slabs GROUP BY 1),
        coef0 AS (
          SELECT slab, m, sk, sr,
                 m * skk - sk * sk AS den,
                 m * skr - sk * sr AS num
          FROM fits),
        coef1 AS (
          SELECT slab, m, sk, sr,
                 CASE WHEN num >= 0
                 THEN (2000000 * num + den) // (2 * nullif(den, 0))
                 ELSE -((2000000 * (-num) + den) // (2 * nullif(den, 0)))
                 END AS b_micro
          FROM coef0),
        coef AS (
          SELECT slab, b_micro,
                 CASE WHEN 1000000 * sr - b_micro * sk >= 0
                 THEN (2 * (1000000 * sr - b_micro * sk) + m) // (2 * m)
                 ELSE -((2 * (b_micro * sk - 1000000 * sr) + m) // (2 * m))
                 END AS a_micro
          FROM coef1),
        errs AS (
          SELECT s.slab,
                 abs(((c.a_micro + c.b_micro * s.k) // 1000000) - s.r)
                   AS err
          FROM slabs s JOIN coef c ON c.slab = s.slab),
        per AS (
          SELECT slab, count(*) AS n_keys, max(err) AS epsilon
          FROM errs GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_slabs,
               CAST(sum(n_keys) AS BIGINT) AS n_keys,
               CAST(max(epsilon) AS BIGINT) AS max_epsilon,
               CAST((2 * sum(epsilon) + count(*)) // (2 * count(*))
                 AS BIGINT) AS mean_epsilon
        FROM per""")),

    QueryDef(
      "q426_bom_explosion",
      (s, d) => {
        val parts = Tables(s, d, "part")
        val nParts = parts.count()
        // Scale dispatch (the q200/autoTopK pattern): parent and
        // multiplicity are pure arithmetic, so above the limit the
        // whole explosion is per-row closed form — root/depth are
        // KeyHierarchy CASE trees and units is a flat chain of ≤30
        // codegen'd CASE factors — ONE scan + ONE agg instead of a
        // UnionLoop round per tree level. Exact integer arithmetic:
        // bit-identical to the recursion (KeyHierarchySpec pins it).
        val limit = s.conf.getOption("spark.graft.hierarchy.recursionLimit")
          .map(_.toLong).getOrElse(100000L)
        if (nParts > limit) q426ClosedForm(parts)
        else {
          // size the recursion guard from the input (the q200
          // discipline): each key contributes ≤ ⌈log₄(maxKey)⌉ + 1 rows
          val bound = (nParts + 1000L) * 16L
          val prev = s.conf.getOption("spark.sql.cteRecursionRowLimit")
          s.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
          parts.createOrReplaceTempView("graft_part_bom")
          // edges: child -> parent (parent = key div 4), multiplicity
          // key % 3 + 1; roots are keys < 4. Explosion: per (root, leaf)
          // the product of multiplicities along the path. Runs eagerly
          // so the conf restore below cannot affect execution.
          try s.sql("""
            WITH RECURSIVE bom AS (
              SELECT p_partkey AS node, p_partkey AS leaf,
                     CAST(1 AS BIGINT) AS units, 0 AS depth
              FROM graft_part_bom
              UNION ALL
              SELECT b.node div 4, b.leaf,
                     b.units * (b.node % 3 + 1), b.depth + 1
              FROM bom b WHERE b.node >= 4)
            SELECT CAST(node AS BIGINT) AS root,
                   CAST(count(*) AS BIGINT) AS n_leaves,
                   CAST(sum(units) AS BIGINT) AS total_units,
                   CAST(max(depth) AS BIGINT) AS max_depth
            FROM bom WHERE node < 4
            GROUP BY node ORDER BY root""").localCheckpoint(true)
          finally prev match {
            case Some(v) => s.conf.set("spark.sql.cteRecursionRowLimit", v)
            case None => s.conf.unset("spark.sql.cteRecursionRowLimit")
          }
        }
      },
      Some("""
        WITH RECURSIVE bom AS (
          SELECT p_partkey AS node, p_partkey AS leaf,
                 CAST(1 AS BIGINT) AS units, 0 AS depth
          FROM part
          UNION ALL
          SELECT b.node // 4, b.leaf,
                 b.units * (b.node % 3 + 1), b.depth + 1
          FROM bom b WHERE b.node >= 4)
        SELECT CAST(node AS BIGINT) AS root,
               CAST(count(*) AS BIGINT) AS n_leaves,
               CAST(sum(units) AS BIGINT) AS total_units,
               CAST(max(depth) AS BIGINT) AS max_depth
        FROM bom WHERE node < 4
        GROUP BY node ORDER BY root""")),
  )
}
