package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Thirty-second wave — contracts, calibration, selection, audit:
  *
  *  - q254: data-contract audit (dbt-style uniqueness / not-null /
  *    accepted-range / accepted-values / referential-integrity checks
  *    as ONE declared result) — the ingest gate a warehouse runs
  *    before anything downstream trusts a table.
  *  - q255: cross-source quantile normalization — each source's score
  *    distribution is mapped onto the GLOBAL distribution (the
  *    rank-based calibration that makes per-source quality scores
  *    comparable before mixture decisions).
  *  - q256: greedy k-center coreset selection over quantized
  *    embeddings — geometric-diversity data pruning (the coverage
  *    companion to q100's redundancy-removing SemDedup).
  *  - q257: centroid-based label-noise audit — the LINEAR alternative
  *    to the quadratic kNN label audit (q212): class centroids in
  *    exact integer domain, nearest-centroid reassignment, confusion
  *    matrix.
  */
object Training32 {
  /** Exact micro-int vector: round(x·1e6) per component. */
  private val microVec =
    "transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))"
  private val microVecDuck =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** Squared L2 between two bigint array columns (codegen fold). */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  private def dist2Duck(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ---- data contracts: five table contracts audited into one
    // result frame — uniqueness (orders.o_orderkey), not-null
    // (lineitem.l_shipdate), accepted range (l_quantity ∈ [1,50]),
    // accepted values (o_orderstatus ∈ {O,F,P}), and referential
    // integrity (every l_orderkey resolves in orders). Scale shape:
    // each contract is a single map-side-combinable aggregation over
    // its table; the FK check is ONE keyed join against the distinct
    // key set (bloom-prefilterable via q72's BloomJoin at extreme
    // scale). This is the dbt-test / Deequ-style gate expressed as a
    // declared, hash-pinned query.
    QueryDef(
      "q254_data_contracts",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val o = Tables(s, d, "orders")
        def leg(name: String, checked: Column, violations: Column, src: DataFrame) =
          src.agg(checked.as("n_checked"), violations.as("n_violations"))
            .select(lit(name).as("contract"), col("n_checked"),
              col("n_violations"),
              (col("n_violations") === 0L).as("passed"))
        val fk = li.select("l_orderkey")
          .join(o.select("o_orderkey").distinct(),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("fk_lineitem_orderkey_in_orders").as("contract"),
            col("n_checked"), col("n_violations"),
            (col("n_violations") === 0L).as("passed"))
        Seq(
          fk,
          leg("not_null_lineitem_shipdate",
            count(lit(1)),
            sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)), li),
          leg("range_lineitem_quantity_1_50",
            count(lit(1)),
            sum(when(col("l_quantity").isNull ||
              col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
              .otherwise(0L)), li),
          leg("unique_orders_orderkey",
            count(lit(1)),
            count(lit(1)) - countDistinct(col("o_orderkey")), o),
          leg("values_orders_orderstatus",
            count(lit(1)),
            sum(when(col("o_orderstatus").isNull ||
              !col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)), o),
        ).reduce(_ unionByName _).orderBy("contract")
      },
      Some("""
        SELECT 'fk_lineitem_orderkey_in_orders' AS contract,
               count(*) AS n_checked,
               CAST(count(*) FILTER (WHERE NOT EXISTS (
                 SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                 AS BIGINT) AS n_violations,
               count(*) FILTER (WHERE NOT EXISTS (
                 SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
                 AS passed
        FROM lineitem l
        UNION ALL
        SELECT 'not_null_lineitem_shipdate', count(*),
               CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT),
               count(*) FILTER (WHERE l_shipdate IS NULL) = 0
        FROM lineitem
        UNION ALL
        SELECT 'range_lineitem_quantity_1_50', count(*),
               CAST(count(*) FILTER (WHERE l_quantity IS NULL
                 OR l_quantity < 1.0 OR l_quantity > 50.0) AS BIGINT),
               count(*) FILTER (WHERE l_quantity IS NULL
                 OR l_quantity < 1.0 OR l_quantity > 50.0) = 0
        FROM lineitem
        UNION ALL
        SELECT 'unique_orders_orderkey', count(*),
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
               count(*) - count(DISTINCT o_orderkey) = 0
        FROM orders
        UNION ALL
        SELECT 'values_orders_orderstatus', count(*),
               CAST(count(*) FILTER (WHERE o_orderstatus IS NULL
                 OR o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
               count(*) FILTER (WHERE o_orderstatus IS NULL
                 OR o_orderstatus NOT IN ('O', 'F', 'P')) = 0
        FROM orders
        ORDER BY contract"""),
    ),

    // ---- quantile normalization across sources: doc i in source s at
    // within-source rank r (of n_s) is mapped to the global order
    // statistic at position ceil(r·N/n_s) — after which every source
    // has (up to integer granularity) the SAME score distribution,
    // the precondition for comparing per-source quality thresholds.
    // Scale shape: the within-source rank is a KEYED window; the
    // global distribution is carried as a value-dictionary CDF
    // (distinct n_chars values — bounded by the length domain, not
    // the row count) collected once, and the order-statistic lookup
    // is a literal binary-search CASE tree over the cumulative counts
    // (EquiDepthBins.searchCountExpr) — no global sort, no data-sized
    // unkeyed window, no per-row O(|dict|) lambda fold anywhere.
    QueryDef(
      "q255_quantile_normalize",
      (s, d) => {
        val docs = Tables(s, d, "documents").select("doc_id", "source", "n_chars")
        val ranked = docs
          .withColumn("r", row_number().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id"))
            .cast("long"))
        val ns = docs.groupBy("source").agg(count(lit(1)).as("ns"))
        val nn = docs.agg(count(lit(1)).as("nn"))
        // the CDF dictionary is length-domain-bounded (523 values at
        // sf0.1) — collected once and embedded as a LITERAL
        // binary-search CASE tree over the cumulative counts
        // (EquiDepthBins.searchCountExpr: ⌈log₂ n⌉ codegen'd compares
        // per row). The previous per-row `aggregate(cums, ...)` lambda
        // fold was the 10× bottleneck: interpreted O(|dict|) per row
        // (5.7× at 10×; 1.5× with the tree).
        val dictRows = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
          .orderBy("n_chars").collect()
        val vals = dictRows.map(_.getLong(0))
        val cums = dictRows.scanLeft(0L)(_ + _.getLong(1)).drop(1)
        val slabExpr = graft.operators.EquiDepthBins.searchCountExpr(
          "g", cums.toIndexedSeq.map(c => s"${c}L"), strict = true)
        ranked
          .join(broadcast(ns), Seq("source"))
          .crossJoin(broadcast(nn))
          .withColumn("g", expr("(r * nn + ns - 1) div ns"))
          .withColumn("nv", expr(
            s"element_at(array(${vals.map(v => s"${v}L").mkString(", ")}), " +
              s"cast(($slabExpr) AS INT) + 1)"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("nv").cast("long").as("sum_norm"),
            min("nv").as("min_norm"),
            max("nv").as("max_norm"))
          .orderBy("source")
      },
      Some("""
        WITH ranked AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS r,
                 count(*) OVER (PARTITION BY source) AS ns,
                 count(*) OVER () AS nn
          FROM documents),
        cumt AS (
          SELECT n_chars AS v, sum(c) OVER (ORDER BY n_chars) AS cum
          FROM (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1)),
        norm AS (
          SELECT source,
                 (SELECT min(v) FROM cumt
                  WHERE cum >= (r * nn + ns - 1) // ns) AS nv
          FROM ranked)
        SELECT source, count(*) AS n_docs,
               CAST(sum(nv) AS BIGINT) AS sum_norm,
               min(nv) AS min_norm, max(nv) AS max_norm
        FROM norm GROUP BY 1 ORDER BY 1"""),
    ),

    // ---- greedy k-center selection (farthest-point traversal) over
    // exact micro-int embeddings: start from the smallest vec_id,
    // then 7 times add the point FARTHEST from the chosen set (ties
    // to the smaller vec_id) — the classic 2-approximation of the
    // k-center cover, used as geometric-diversity data selection.
    // The declared result is the selection trace with each pick's
    // coverage radius² (monotonically non-increasing). Scale shape:
    // each round is ONE distributed min-update + ONE TakeOrdered(1)
    // over the candidate mass; only the single argmax row (64 ints)
    // ever reaches the driver — the DeterministicKMeans collect
    // discipline, k rounds total. All distances are exact BIGINT, so
    // the oracle replays the identical selection as 8 unrolled
    // MATERIALIZED CTE stages.
    QueryDef(
      "q256_kcenter_coreset",
      (s, d) => {
        val pts0 = Tables(s, d, "embeddings")
          .select(col("vec_id"), expr(microVec).as("x6"))
        val first = pts0.orderBy("vec_id").limit(1)
          .collect().head
        val firstId = first.getLong(0)
        val firstVec = first.getSeq[Long](1).toArray
        var sel = Vector((1L, firstId, 0L))
        var pts = pts0.withColumn("mind", lit(Long.MaxValue))
        var center = firstVec
        for (i <- 2 to 8) {
          val cArr = array(center.map(lit(_)): _*)
          pts = pts.withColumn("mind",
            least(col("mind"), dist2(col("x6"), cArr)))
          val top = pts.orderBy(col("mind").desc, col("vec_id").asc)
            .limit(1).collect().head
          sel = sel :+ ((i.toLong, top.getLong(0), top.getLong(2)))
          center = top.getSeq[Long](1).toArray
        }
        import s.implicits._
        sel.toDF("sel_order", "vec_id", "radius2")
      },
      Some {
        val stages = (2 to 8).map { i =>
          val prevD = if (i == 2) "" else s"d${i - 1} AS src"
          val distTo = dist2Duck("e.x6", "c.x6")
          val src = if (i == 2)
            s"""d2 AS MATERIALIZED (
              SELECT e.vec_id, e.x6, $distTo AS mind
              FROM ex e, c1 c)"""
          else
            s"""d$i AS MATERIALIZED (
              SELECT e.vec_id, e.x6, least(e.mind, $distTo) AS mind
              FROM d${i - 1} e, c${i - 1} c)"""
          val pick = s"""c$i AS MATERIALIZED (
              SELECT vec_id, x6, mind FROM d$i
              ORDER BY mind DESC, vec_id LIMIT 1)"""
          s"$src,\n        $pick"
        }.mkString(",\n        ")
        val unions = (2 to 8)
          .map(i => s"SELECT $i AS sel_order, vec_id, mind AS radius2 FROM c$i")
          .mkString("\n        UNION ALL ")
        s"""
        WITH ex AS MATERIALIZED (
          SELECT vec_id, $microVecDuck AS x6 FROM embeddings),
        c1 AS MATERIALIZED (
          SELECT vec_id, x6 FROM ex ORDER BY vec_id LIMIT 1),
        $stages
        SELECT CAST(sel_order AS BIGINT) AS sel_order, vec_id,
               CAST(radius2 AS BIGINT) AS radius2
        FROM (
        SELECT 1 AS sel_order, vec_id, 0 AS radius2 FROM c1
        UNION ALL $unions)
        ORDER BY sel_order"""
      },
    ),

    // ---- centroid label-noise audit: per-class centroids computed in
    // exact integer micro-units (half-up per-dimension division, the
    // DeterministicKMeans identity), every vector reassigned to its
    // nearest centroid (ties to the smaller label), and the
    // given-vs-predicted confusion matrix declared. Off-diagonal mass
    // estimates label noise / class overlap. This is the LINEAR
    // alternative to q212's brute-force kNN audit: one explode-agg
    // for centroids (dictionary-sized: labels × dims), one broadcast
    // of 10 centroid rows, one map-side argmin pass — no pairwise
    // scoring anywhere.
    QueryDef(
      "q257_centroid_label_audit",
      (s, d) => {
        val ex = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"), expr(microVec).as("x6"))
        val cent = ex
          .select(col("label"), posexplode(col("x6")).as(Seq("j0", "x")))
          .withColumn("j", col("j0") + 1)
          .groupBy("label", "j")
          .agg(sum("x").as("s0"), count(lit(1)).as("n"))
          .withColumn("c", expr(
            """CASE WHEN s0 < 0 THEN -((2 * (-s0) + n) div (2 * n))
                    ELSE (2 * s0 + n) div (2 * n) END"""))
          .groupBy("label")
          .agg(expr("transform(sort_array(collect_list(struct(j, c))), p -> p.c)")
            .as("cvec"))
          .withColumnRenamed("label", "cand_label")
        ex.withColumnRenamed("label", "given_label")
          .crossJoin(broadcast(cent))
          .withColumn("d2", dist2(col("x6"), col("cvec")))
          .groupBy("vec_id", "given_label")
          .agg(min(struct(col("d2"), col("cand_label"))).as("m"))
          .select(col("given_label"), col("m.cand_label").as("pred_label"))
          .groupBy("given_label", "pred_label")
          .agg(count(lit(1)).as("n"))
          .orderBy("given_label", "pred_label")
      },
      Some(s"""
        WITH ex AS (
          SELECT vec_id, label, $microVecDuck AS x6 FROM embeddings),
        flat AS (
          SELECT vec_id, label,
                 unnest(range(1, 65)) AS j, unnest(x6) AS x
          FROM ex),
        cent AS (
          SELECT label AS cand_label, j,
                 CASE WHEN s0 < 0 THEN -((2 * (-s0) + n) // (2 * n))
                      ELSE (2 * s0 + n) // (2 * n) END AS c
          FROM (SELECT label, j, CAST(sum(x) AS BIGINT) AS s0,
                       count(*) AS n
                FROM flat GROUP BY 1, 2)),
        dist AS (
          SELECT f.vec_id, f.label AS given_label, c.cand_label,
                 CAST(sum((f.x - c.c) * (f.x - c.c)) AS BIGINT) AS d2
          FROM flat f JOIN cent c USING (j)
          GROUP BY 1, 2, 3),
        pred AS (
          SELECT given_label, cand_label AS pred_label
          FROM (SELECT given_label, cand_label, d2,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cand_label) AS rn
                FROM dist)
          WHERE rn = 1)
        SELECT given_label, pred_label, count(*) AS n
        FROM pred GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),
  )
}
