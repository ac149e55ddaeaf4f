package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Seventy-first wave — bitmap-index answering, exact decision stumps,
  * and space-filling-curve layout comparison:
  *
  *  - q379: bitmap-index semi-join — per-bucket key bitmaps answer
  *    "orders of priority p with ≥1 returned lineitem" WITHOUT joining
  *    the fact tables: |A∩B| = |A| + |B| − |A∪B| over builtin bitmap
  *    aggregates (bitmap_construct_agg / bitmap_or_agg / bitmap_count).
  *    The bitmaps are the materialized index; the per-bucket AND is
  *    embarrassingly parallel, and at 100 TB the fact rows are never
  *    reshuffled — only kilobyte bitmaps move.
  *  - q380: exact decision stump — the best single-feature threshold
  *    split of a binary label by weighted Gini purity, every candidate
  *    scored from ONE cumulative pass per feature (sorted prefix sums,
  *    no per-threshold rescan), all arithmetic in integers
  *    (DECIMAL(38,0) / HUGEINT) so both engines agree bit-for-bit.
  *  - q381: Hilbert vs Z-order vs row-major layout — the same
  *    slab-bounding-box clustering metric as q318, measured over slabs
  *    of 10 consecutive curve indices (deliberately NOT a power of 4,
  *    where both curves degenerate to aligned blocks and tie). The
  *    Hilbert curve's unit-step property keeps every run of 10 cells
  *    spatially tight; Morton runs jump at block boundaries; row-major
  *    runs span whole rows. The 32×32 Hilbert mapping is computed at
  *    plan time (public xy2d bit algorithm) and embedded as the SAME
  *    literal array in both dialects; the spec re-derives it via the
  *    d2xy inverse and pins the unit-step adjacency property.
  */
object Training71 {
  /** 5-bit Morton interleave (a,b ∈ [0,32)) as dialect-neutral SQL. */
  private def morton5(a: String, b: String): String =
    (0 until 5).map { i =>
      s"((($a) // ${1 << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((($b) // ${1 << i}) % 2) * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** Hilbert xy2d for an n×n grid (n a power of two) — the standard
    * public bit-twiddling form: descend square sizes, rotate the frame
    * by quadrant. Computed at plan time; only the resulting 1024-entry
    * lookup is shipped to either engine.
    */
  private def xy2d(n: Int, x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0; var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      s /= 2
    }
    d
  }
  private val hilbert32: IndexedSeq[Int] =
    for (x <- 0 until 32; y <- 0 until 32) yield xy2d(32, x, y)

  val defs: Seq[QueryDef] = Seq(

    // ---- bitmap-index semi-join. A-rows: one bitmap per (priority,
    // bucket) of orderkeys; B-rows: one bitmap per bucket of orderkeys
    // having an 'R' lineitem, replicated to each priority (5 rows per
    // bucket — dimension-sized). One groupBy ORs each (pri, bucket)
    // pair and the identity |A|+|B|−|A∪B| yields the intersection
    // cardinality with no scalar bitmap-AND function needed.
    QueryDef(
      "q379_bitmap_index_semijoin",
      (s, d) => {
        val pris = Tables(s, d, "orders").select("o_orderpriority").distinct()
        val a = Tables(s, d, "orders")
          .groupBy(col("o_orderpriority").as("pri"),
            expr("bitmap_bucket_number(o_orderkey)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_orderkey))")
            .as("bm"))
          .withColumn("cnt", expr("CAST(bitmap_count(bm) AS BIGINT)"))
        val b = Tables(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .groupBy(expr("bitmap_bucket_number(l_orderkey)").as("bucket"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_orderkey))")
            .as("bm"))
          .withColumn("cnt", expr("CAST(bitmap_count(bm) AS BIGINT)"))
          .crossJoin(broadcast(pris.select(col("o_orderpriority").as("pri"))))
          .select("pri", "bucket", "bm", "cnt")
        a.select("pri", "bucket", "bm", "cnt").unionByName(b)
          .groupBy("pri", "bucket")
          .agg(sum("cnt").as("sum_cnt"),
            expr("CAST(bitmap_count(bitmap_or_agg(bm)) AS BIGINT)")
              .as("cnt_or"),
            count(lit(1)).as("sides"))
          // buckets present on one side only contribute 0 by the
          // identity; keep them — sum_cnt − cnt_or is already 0 there
          .groupBy("pri")
          .agg(sum(expr("sum_cnt - cnt_or")).as("n_orders_with_return"))
          .orderBy("pri")
      },
      Some("""
        SELECT o_orderpriority AS pri,
               CAST(count(DISTINCT o_orderkey) AS BIGINT)
                 AS n_orders_with_return
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY 1 ORDER BY pri""")),

    // ---- exact decision stump: label = (l_returnflag = 'R');
    // candidate splits x ≤ t over two integer features (quantity,
    // discount cents). Per feature: one keyed agg to (value, n, pos),
    // a cumulative window for left-side sums, and the purity score
    //   S·(posL²+negL²)/cntL + S·(posR²+negR²)/cntR   (maximize)
    // in integer arithmetic — equivalent to minimizing weighted Gini.
    // The argmax is a deterministic ORDER BY ... LIMIT 1 over ~60
    // candidate rows (feature-value-dictionary-sized, not data-sized).
    QueryDef(
      "q380_decision_stump",
      (s, d) => {
        val S = "1000000"
        val base = Tables(s, d, "lineitem").selectExpr(
          "CAST(l_quantity AS BIGINT) AS qty",
          "CAST(round(l_discount * 100, 0) AS BIGINT) AS disc",
          "CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END AS pos")
        def cands(feat: String): DataFrame =
          base.groupBy(col(feat).as("threshold"))
            .agg(count(lit(1)).as("n"), sum("pos").as("p"))
            .selectExpr(s"'$feat' AS feature", "threshold",
              "CAST(sum(n) OVER (ORDER BY threshold) AS DECIMAL(38,0)) AS nl",
              "CAST(sum(p) OVER (ORDER BY threshold) AS DECIMAL(38,0)) AS pl",
              "CAST(sum(n) OVER () AS DECIMAL(38,0)) AS nt",
              "CAST(sum(p) OVER () AS DECIMAL(38,0)) AS pt")
            .filter("nl < nt") // the max value leaves an empty right side
        val scored = cands("qty").unionByName(cands("disc"))
          .selectExpr("feature", "threshold", "nl", "pl",
            s"""($S * (pl * pl + (nl - pl) * (nl - pl)) div nullif(nl, 0)
              + $S * ((pt - pl) * (pt - pl)
                      + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))
                  div nullif(nt - nl, 0)) AS score""")
        scored
          .orderBy(col("score").desc, col("feature"), col("threshold"))
          .limit(1)
          .selectExpr("feature", "threshold",
            "CAST(score AS BIGINT) AS score",
            "CAST(nl AS BIGINT) AS left_n", "CAST(pl AS BIGINT) AS left_pos")
      },
      Some("""
        WITH base AS (
          SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_discount * 100, 0) AS BIGINT) AS disc,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
          FROM lineitem),
        cands AS (
          SELECT 'qty' AS feature, threshold,
                 CAST(SUM(n) OVER (ORDER BY threshold) AS HUGEINT) AS nl,
                 CAST(SUM(p) OVER (ORDER BY threshold) AS HUGEINT) AS pl,
                 CAST(SUM(n) OVER () AS HUGEINT) AS nt,
                 CAST(SUM(p) OVER () AS HUGEINT) AS pt
          FROM (SELECT qty AS threshold, count(*) AS n, sum(pos) AS p
                FROM base GROUP BY 1) g
          UNION ALL
          SELECT 'disc', threshold,
                 CAST(SUM(n) OVER (ORDER BY threshold) AS HUGEINT),
                 CAST(SUM(p) OVER (ORDER BY threshold) AS HUGEINT),
                 CAST(SUM(n) OVER () AS HUGEINT),
                 CAST(SUM(p) OVER () AS HUGEINT)
          FROM (SELECT disc AS threshold, count(*) AS n, sum(pos) AS p
                FROM base GROUP BY 1) g)
        SELECT feature, threshold, CAST(score AS BIGINT) AS score,
               CAST(nl AS BIGINT) AS left_n, CAST(pl AS BIGINT) AS left_pos
        FROM (
          SELECT feature, threshold, nl, pl,
                 (1000000 * (pl * pl + (nl - pl) * (nl - pl))
                    // nullif(nl, 0)
                  + 1000000 * ((pt - pl) * (pt - pl)
                        + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))
                    // nullif(nt - nl, 0)) AS score
          FROM cands WHERE nl < nt) s
        ORDER BY score DESC, feature, threshold LIMIT 1""")),

    // ---- Hilbert vs Z-order vs row-major: identical 32×32 keys,
    // identical slab metric (sum over slabs of curve-index runs of 10
    // of the slab's bounding-box area). The winner flags are DATA, not
    // assertions — the spec pins hilbert ≤ morton, the oracle pins the
    // engines agree.
    QueryDef(
      "q381_hilbert_layout",
      (s, d) => {
        val hlit = hilbert32.mkString("array(", ", ", ")")
        val keyed = Tables(s, d, "lineitem")
          .selectExpr("CAST(l_partkey % 32 AS INT) AS a",
            "CAST(l_suppkey % 32 AS INT) AS b")
          .selectExpr("a", "b",
            s"element_at($hlit, a * 32 + b + 1) AS h",
            morton5("a", "b").replace("//", "div") + " AS m",
            "a * 32 + b AS r")
          .localCheckpoint()
        def area(idx: String, name: String): DataFrame =
          keyed.groupBy(expr(s"$idx div 10").as("slab"))
            .agg(((max("a") - min("a") + 1) * (max("b") - min("b") + 1))
              .cast("long").as("area"))
            .agg(sum("area").as("sum_area"))
            .select(lit(name).as("layout"), col("sum_area"))
        val h = area("h", "hilbert"); val m = area("m", "morton")
        val r = area("r", "rowmajor")
        h.unionByName(m).unionByName(r)
          .crossJoin(broadcast(
            h.select(col("sum_area").as("ha"))
              .crossJoin(m.select(col("sum_area").as("ma")))
              .select((col("ha") <= col("ma")).as("hilbert_wins_or_ties"))))
          .orderBy("layout")
      },
      Some {
        val hlit = hilbert32.mkString("[", ", ", "]")
        s"""
        WITH keyed AS (
          SELECT a, b, list_extract($hlit, a * 32 + b + 1) AS h,
                 ${morton5("a", "b")} AS m, a * 32 + b AS r
          FROM (SELECT CAST(l_partkey % 32 AS INT) AS a,
                       CAST(l_suppkey % 32 AS INT) AS b
                FROM lineitem) t),
        ha AS (SELECT CAST(sum(area) AS BIGINT) AS sum_area FROM (
          SELECT (max(a) - min(a) + 1) * (max(b) - min(b) + 1) AS area
          FROM keyed GROUP BY h // 10) t),
        ma AS (SELECT CAST(sum(area) AS BIGINT) AS sum_area FROM (
          SELECT (max(a) - min(a) + 1) * (max(b) - min(b) + 1) AS area
          FROM keyed GROUP BY m // 10) t),
        ra AS (SELECT CAST(sum(area) AS BIGINT) AS sum_area FROM (
          SELECT (max(a) - min(a) + 1) * (max(b) - min(b) + 1) AS area
          FROM keyed GROUP BY r // 10) t),
        w AS (SELECT ha.sum_area <= ma.sum_area AS hw FROM ha, ma)
        SELECT layout, sum_area, hw AS hilbert_wins_or_ties FROM (
          SELECT 'hilbert' AS layout, ha.sum_area FROM ha
          UNION ALL SELECT 'morton', ma.sum_area FROM ma
          UNION ALL SELECT 'rowmajor', ra.sum_area FROM ra) u, w
        ORDER BY layout"""
      }),
  )
}
