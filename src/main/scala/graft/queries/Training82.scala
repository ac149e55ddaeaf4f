package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-second wave — inequality decomposition, hierarchical shares,
  * and sparse-vector retrieval:
  *
  *  - q410: Theil-T inequality decomposition of order spend across
  *    nations — T = T_between + Σ share_g·T_g, the additive
  *    decomposition that says how much inequality lives BETWEEN
  *    groups vs WITHIN them. Logs follow the q74/q178 recipe (ln
  *    rounded to micro at the source, every later step exact integer
  *    arithmetic), so both engines produce identical micro-nats.
  *  - q411: share-of-parent over a ROLLUP hierarchy — each (month,
  *    priority) leaf carries its share of the month subtotal and the
  *    month's share of the grand total, in half-up ppm. The standard
  *    OLAP report join of rollup levels by grouping depth.
  *  - q412: sparse-vector retrieval (SPLADE-shape) — each embedding
  *    keeps its top-8 dimensions by |weight| (micro ints); an
  *    inverted index over dims with a 128-per-dim posting cap
  *    generates candidates, exact sparse dot ranks them. Postings ×
  *    cap bounds the pair mass at ANY corpus size — the sparse
  *    sibling of the dense IVF path (q63) and the capped-LSH
  *    discipline (q46).
  */
object Training82 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q410_theil_decomposition",
      (s, d) => {
        val rows = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .selectExpr("n_name",
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x",
            """CAST(round(ln(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               * 1000000) AS BIGINT) AS lnx6""")
        val grp = rows.groupBy("n_name")
          .agg(count(lit(1)).as("n_g"),
            sum(col("x").cast("decimal(38,0)")).as("xg"),
            sum((col("x") * col("lnx6")).cast("decimal(38,0)")).as("sg"))
          .selectExpr("n_name", "n_g", "xg", "sg",
            """CAST(round(ln(CAST(xg AS DOUBLE) / n_g) * 1000000)
               AS BIGINT) AS lnmu6""")
          .localCheckpoint()
        val tot = grp.agg(sum("xg").as("x_tot"),
          sum("n_g").as("n_tot")).localCheckpoint(true)
        val perG = grp.crossJoin(broadcast(tot))
          .selectExpr("n_name", "n_g", "CAST(xg AS BIGINT) AS xg_cents",
            """CASE WHEN sg - xg * lnmu6 >= 0
               THEN (2 * (sg - xg * lnmu6) + xg) div (2 * xg)
               ELSE -((2 * (xg * lnmu6 - sg) + xg) div (2 * xg))
               END AS t_within_micro""",
            """CAST(round(ln((CAST(xg AS DOUBLE) * n_tot)
               / (CAST(x_tot AS DOUBLE) * n_g)) * 1000000) AS BIGINT)
               AS lnb6""",
            "xg", "x_tot")
          .localCheckpoint()
        val leaf = perG.selectExpr("n_name",
          "CAST(n_g AS BIGINT) AS n", "xg_cents", "t_within_micro")
        val within = perG
          .agg(expr("""(2 * sum(xg * t_within_micro) + sum(xg))
              div (2 * sum(xg))""").as("v"))
          .selectExpr("'_within' AS n_name", "CAST(0 AS BIGINT) AS n",
            "CAST(0 AS BIGINT) AS xg_cents", "v AS t_within_micro")
        val between = perG
          .agg(expr("""CASE WHEN sum(xg * lnb6) >= 0
              THEN (2 * sum(xg * lnb6) + sum(xg)) div (2 * sum(xg))
              ELSE -((2 * (-sum(xg * lnb6)) + sum(xg))
                     div (2 * sum(xg))) END""").as("v"))
          .selectExpr("'_between' AS n_name", "CAST(0 AS BIGINT) AS n",
            "CAST(0 AS BIGINT) AS xg_cents", "v AS t_within_micro")
        leaf.unionByName(within).unionByName(between).orderBy("n_name")
      },
      Some("""
        WITH rows0 AS (
          SELECT n_name,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
                 CAST(round(ln(CAST(round(o_totalprice * 100, 0)
                     AS BIGINT)) * 1000000) AS BIGINT) AS lnx6
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey),
        grp AS (
          SELECT n_name, count(*) AS n_g,
                 CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS xg,
                 CAST(sum(CAST(x AS HUGEINT) * lnx6) AS HUGEINT) AS sg,
                 CAST(round(ln(CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE)
                     / count(*)) * 1000000) AS BIGINT) AS lnmu6
          FROM rows0 GROUP BY 1),
        tot AS (SELECT CAST(sum(xg) AS HUGEINT) AS x_tot,
                       CAST(sum(n_g) AS HUGEINT) AS n_tot FROM grp),
        per AS (
          SELECT n_name, n_g, xg, x_tot,
                 CASE WHEN sg - xg * lnmu6 >= 0
                 THEN (2 * (sg - xg * lnmu6) + xg) // (2 * xg)
                 ELSE -((2 * (xg * lnmu6 - sg) + xg) // (2 * xg))
                 END AS t_within_micro,
                 CAST(round(ln((CAST(xg AS DOUBLE) * n_tot)
                     / (CAST(x_tot AS DOUBLE) * n_g)) * 1000000)
                   AS BIGINT) AS lnb6
          FROM grp, tot)
        SELECT n_name, CAST(n_g AS BIGINT) AS n,
               CAST(xg AS BIGINT) AS xg_cents,
               CAST(t_within_micro AS BIGINT) AS t_within_micro
        FROM per
        UNION ALL
        SELECT '_within', 0, 0,
               CAST((2 * sum(xg * t_within_micro) + sum(xg))
                 // (2 * sum(xg)) AS BIGINT)
        FROM per
        UNION ALL
        SELECT '_between', 0, 0,
               CAST(CASE WHEN sum(xg * lnb6) >= 0
                 THEN (2 * sum(xg * lnb6) + sum(xg)) // (2 * sum(xg))
                 ELSE -((2 * (-sum(xg * lnb6)) + sum(xg))
                        // (2 * sum(xg))) END AS BIGINT)
        FROM per
        ORDER BY n_name""")),

    QueryDef(
      "q411_share_of_parent",
      (s, d) => {
        val leaf = Tables(s, d, "orders")
          .selectExpr("substring(CAST(o_orderdate AS STRING), 1, 7) AS month",
            "o_orderpriority AS pri",
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents")
          .groupBy("month", "pri")
          .agg(sum("cents").as("cents"))
          .localCheckpoint()
        val monthly = leaf.groupBy("month").agg(sum("cents").as("mcents"))
        val grand = monthly.agg(sum("mcents").as("gcents"))
        leaf.join(monthly, "month").crossJoin(broadcast(grand))
          .selectExpr("month", "pri", "cents",
            "(2 * 1000000 * cents + mcents) div (2 * mcents) AS share_of_month_ppm",
            "(2 * 1000000 * mcents + gcents) div (2 * gcents) AS month_share_ppm")
          .orderBy("month", "pri")
      },
      Some("""
        WITH leaf AS (
          SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
                 o_orderpriority AS pri,
                 SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS cents
          FROM orders GROUP BY 1, 2),
        monthly AS (SELECT month, sum(cents) AS mcents FROM leaf GROUP BY 1),
        grand AS (SELECT sum(mcents) AS gcents FROM monthly)
        SELECT month, pri, CAST(cents AS BIGINT) AS cents,
               CAST((2 * 1000000 * cents + mcents) // (2 * mcents)
                 AS BIGINT) AS share_of_month_ppm,
               CAST((2 * 1000000 * mcents + gcents) // (2 * gcents)
                 AS BIGINT) AS month_share_ppm
        FROM leaf JOIN monthly USING (month), grand
        ORDER BY month, pri""")),

    QueryDef(
      "q412_sparse_dot_topk",
      (s, d) => {
        val w6 = Tables(s, d, "embeddings")
          .selectExpr("vec_id",
            "posexplode(embedding) AS (dim, xv)")
          .selectExpr("vec_id", "dim",
            "CAST(round(CAST(xv AS DOUBLE) * 1000000, 0) AS BIGINT) AS w")
        import org.apache.spark.sql.expressions.Window
        val topDim = Window.partitionBy("vec_id")
          .orderBy(abs(col("w")).desc, col("dim"))
        val sparse = w6.withColumn("r", row_number().over(topDim))
          .filter(col("r") <= 8).drop("r")
          .localCheckpoint() // postings and re-scoring both read it
        val postCap = Window.partitionBy("dim")
          .orderBy(abs(col("w")).desc, col("vec_id"))
        val postings = sparse.withColumn("pr", row_number().over(postCap))
          .filter(col("pr") <= 128).drop("pr")
        postings.as("a").join(postings.as("b"),
            col("a.dim") === col("b.dim") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
          .agg(sum(col("a.w") * col("b.w")).as("dot"))
          .orderBy(col("dot").desc, col("u"), col("v"))
          .limit(10)
      },
      Some("""
        WITH w6 AS (
          SELECT vec_id, dim - 1 AS dim,
                 CAST(round(CAST(xv AS DOUBLE) * 1000000) AS BIGINT) AS w
          FROM (SELECT vec_id,
                       generate_subscripts(embedding, 1) AS dim,
                       unnest(embedding) AS xv
                FROM embeddings) e),
        sparse AS MATERIALIZED (
          SELECT vec_id, dim, w FROM (
            SELECT vec_id, dim, w,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY abs(w) DESC, dim) AS r
            FROM w6) x WHERE r <= 8),
        postings AS MATERIALIZED (
          SELECT vec_id, dim, w FROM (
            SELECT vec_id, dim, w,
                   row_number() OVER (PARTITION BY dim
                     ORDER BY abs(w) DESC, vec_id) AS pr
            FROM sparse) x WHERE pr <= 128)
        SELECT a.vec_id AS u, b.vec_id AS v,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        FROM postings a JOIN postings b
          ON a.dim = b.dim AND a.vec_id < b.vec_id
        GROUP BY 1, 2
        ORDER BY dot DESC, u, v LIMIT 10""")),
  )
}
