package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-seventh wave — time-interval window frames, column-level
  * lineage, and distributed Gram matrices:
  *
  *  - q397: RANGE BETWEEN INTERVAL frames — per user, each event's
  *    trailing-1-hour census computed by a VALUE-range frame over the
  *    event-time ordering (not a row count, not a tumbling bucket —
  *    the sliding physical-time semantics both engines define
  *    identically). Output is the distribution of trailing counts.
  *  - q398: column-level lineage from the ANALYZED plan — exprId-keyed
  *    reference walking (alias- and self-join-safe, unlike name
  *    matching) over a representative 4-table star query; the oracle
  *    pins the hand-derived edge list. The governance question "which
  *    source columns can influence this output?" answered from the
  *    plan itself.
  *  - q399: Gram matrix X^T X over the embedding corpus — accumulated
  *    as PER-PARTITION dense matrices in mapPartitions (shuffle =
  *    partitions × upper-triangle cells, independent of N), not by
  *    exploding N×d² rows. The one-pass primitive under PCA/whitening
  *    at 100 TB. Declared: trace + top-10 off-diagonal cells by |v|.
  */
object Training77 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q397_interval_range_frame",
      (s, d) => {
        Tables(s, d, "events").selectExpr("user_id", "ts",
          "CAST(round(value * 100, 0) AS BIGINT) AS cents")
          .createOrReplaceTempView("graft_ev_rf")
        s.sql("""
          WITH framed AS (
            SELECT user_id,
                   count(*) OVER w AS trail_n,
                   sum(cents) OVER w AS trail_cents
            FROM graft_ev_rf
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
          SELECT trail_n, count(*) AS n_events,
                 CAST(sum(trail_cents) AS BIGINT) AS sum_trail_cents
          FROM framed GROUP BY trail_n ORDER BY trail_n""")
      },
      Some("""
        WITH framed AS (
          SELECT user_id,
                 count(*) OVER w AS trail_n,
                 sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
                   AS trail_cents
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
        SELECT CAST(trail_n AS BIGINT) AS trail_n,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(trail_cents) AS BIGINT) AS sum_trail_cents
        FROM framed GROUP BY trail_n ORDER BY trail_n""")),

    // ---- lineage of the representative star query: revenue by nation
    // (joins carry keys, the aggregate mixes two lineitem columns, the
    // group key passes a nation column through). The oracle is the
    // hand-derived truth — value lineage only, predicates excluded.
    QueryDef(
      "q398_column_lineage",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders")
        val c = Tables(s, d, "customer")
        val n = Tables(s, d, "nation")
        val star = li
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
        val edges = graft.operators.Lineage.columnLineage(star)
        import s.implicits._
        edges.toDF("output_col", "source_table", "source_col")
          .orderBy("output_col", "source_table", "source_col")
      },
      Some("""
        SELECT * FROM (VALUES
          ('n_name', 'nation', 'n_name'),
          ('n_orders', 'orders', 'o_orderkey'),
          ('revenue', 'lineitem', 'l_discount'),
          ('revenue', 'lineitem', 'l_extendedprice'))
          AS t(output_col, source_table, source_col)
        ORDER BY output_col, source_table, source_col""")),

    QueryDef(
      "q399_gram_matrix",
      (s, d) => {
        import s.implicits._
        val vecs = Tables(s, d, "embeddings")
          .selectExpr("""transform(embedding,
              x -> cast(round(cast(x as double) * 1000000, 0) as bigint))
              AS v6""")
          .as[Seq[Long]]
        val cells = vecs.mapPartitions { it =>
          var acc: Array[Long] = null
          var dim = 0
          it.foreach { v =>
            if (acc == null) { dim = v.length; acc = new Array[Long](dim * dim) }
            var i = 0
            while (i < dim) {
              val xi = v(i)
              var j = i
              while (j < dim) { acc(i * dim + j) += xi * v(j); j += 1 }
              i += 1
            }
          }
          if (acc == null) Iterator.empty
          else {
            val d0 = dim
            (for (i <- 0 until d0; j <- i until d0)
              yield (i.toLong, j.toLong, acc(i * d0 + j))).iterator
          }
        }.toDF("i", "j", "v")
          .groupBy("i", "j").agg(sum("v").as("v"))
          .localCheckpoint() // trace and top-10 both read it
        val trace = cells.filter(col("i") === col("j"))
          .agg(sum("v").as("v"))
          .select(lit(-1L).as("i"), lit(-1L).as("j"), col("v"))
        val top = cells.filter(col("i") < col("j"))
          .orderBy(abs(col("v")).desc, col("i"), col("j"))
          .limit(10)
        trace.unionByName(top)
      },
      Some("""
        WITH ex AS (
          SELECT vec_id, unnest(range(len(embedding))) AS i,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                   AS BIGINT) AS x
          FROM embeddings),
        cells AS MATERIALIZED (
          SELECT a.i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS v
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2)
        SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
               CAST(SUM(v) AS BIGINT) AS v
        FROM cells WHERE i = j
        UNION ALL
        SELECT i, j, v FROM (
          SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, v
          FROM cells WHERE i < j
          ORDER BY abs(v) DESC, i, j LIMIT 10) t""")),
  )
}
