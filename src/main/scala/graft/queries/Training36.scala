package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Num.{halfUpDuck, halfUpSpark}
import graft.operators.TextOps.{hash60Duck, hash60Spark}

/** Thirty-sixth wave — distributed selection, density clustering, skew
  * planning, LM scoring:
  *
  *  - q270: split-conformal threshold via exact two-pass k-th-order-
  *    statistic selection (bucket histogram → in-bucket select; no
  *    global sort) + the coverage audit on the held-out half.
  *  - q271: grid-density clustering (DBSCAN-lite): core cells by
  *    occupancy, 8-neighbor adjacency, connected components — density
  *    clusters without any pairwise distance computation.
  *  - q272: join-skew diagnosis — per-key mass, pair-mass estimate,
  *    and a salt recommendation for the hot keys (the planning step
  *    in front of q62's SaltedJoin / q119's salted agg).
  *  - q273: stupid-backoff trigram scoring — the backoff LM that
  *    extends q117 (unigram surprisal) and q142 (bigram
  *    cross-entropy) with the real fallback chain.
  */
object Training36 {
  /** Floor division for possibly-negative x (Spark `div` truncates
    * toward zero; DuckDB `//` floors — this form is identical in both).
    */
  private def floorDivSpark(x: String, c: Long): String =
    s"CASE WHEN $x >= 0 THEN ($x) div $c ELSE -(((-($x)) + ${c - 1}) div $c) END"
  private def floorDivDuck(x: String, c: Long): String =
    s"CASE WHEN $x >= 0 THEN ($x) // $c ELSE -(((-($x)) + ${c - 1}) // $c) END"

  val defs: Seq[QueryDef] = Seq(

    // ---- split-conformal threshold + coverage: nonconformity score =
    // |cents − its priority's mean|, split 50/50 by key hash (the
    // q113 discipline); the calibration threshold is the k-th
    // smallest score, k = ⌈0.9·(n_cal+1)⌉, found EXACTLY in two
    // passes — a 4096-wide bucket histogram (dictionary-sized cum
    // scan) locates the target bucket, then only that bucket's rows
    // are selected — never a global sort, never a data-sized window.
    // The driver touches only scalars (n_cal, the bucket id, the
    // threshold — the DeterministicKMeans collect discipline). The
    // held-out half then audits empirical coverage against the 90%
    // design.
    QueryDef(
      "q270_conformal_threshold",
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
        val m = base.groupBy("o_orderpriority")
          .agg(sum("cents").as("sc"), count(lit(1)).as("nc"))
          .select(col("o_orderpriority"),
            expr(halfUpSpark("sc", "nc")).as("mean_cents"))
        val scored = base.join(broadcast(m), Seq("o_orderpriority"))
          .select(col("o_orderkey"),
            abs(col("cents") - col("mean_cents")).as("score"),
            (expr(hash60Spark("concat('cf:', o_orderkey)")) % 10 < 5).as("is_cal"))
          .localCheckpoint(true) // consumed by both halves + two passes
        val cal = scored.filter(col("is_cal")).select("score")
        val nCal = cal.count()
        val k = ((nCal + 1) * 9 + 9) / 10
        val hist = cal.select(expr("score div 4096").as("b"))
          .groupBy("b").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)))
        val target = hist.filter(col("cum") >= k).orderBy("b").limit(1)
          .collect().head
        val bStar = target.getLong(0)
        val cumBefore = target.getLong(2) - target.getLong(1)
        val kIn = (k - cumBefore).toInt
        val threshold = cal.filter(expr("score div 4096") === bStar)
          .orderBy("score").limit(kIn)
          .agg(max("score")).collect().head.getLong(0)
        val ev = scored.filter(!col("is_cal"))
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("score") <= threshold, 1L).otherwise(0L)).as("n_covered"))
        import s.implicits._
        Seq((nCal, k, threshold)).toDF("n_cal", "k", "threshold_cents")
          .crossJoin(ev)
      },
      Some(s"""
        WITH m AS (
          SELECT o_orderpriority,
                 ${halfUpDuck(
                   "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)",
                   "count(*)")} AS mean_cents
          FROM orders GROUP BY 1),
        scored AS (
          SELECT o_orderkey,
                 abs(CAST(round(o_totalprice * 100, 0) AS BIGINT) - mean_cents) AS score,
                 ${hash60Duck("'cf:' || o_orderkey")} % 10 < 5 AS is_cal
          FROM orders JOIN m USING (o_orderpriority)),
        kk AS (
          SELECT count(*) AS n_cal,
                 ((count(*) + 1) * 9 + 9) // 10 AS k
          FROM scored WHERE is_cal),
        th AS (
          SELECT score AS threshold_cents FROM (
            SELECT score, row_number() OVER (ORDER BY score) AS rn
            FROM scored WHERE is_cal), kk
          WHERE rn = k),
        ev AS (
          SELECT count(*) AS n_eval,
                 CAST(count(*) FILTER (WHERE score <= threshold_cents) AS BIGINT)
                   AS n_covered
          FROM scored, th WHERE NOT is_cal)
        SELECT n_cal, k, threshold_cents, n_eval, n_covered
        FROM kk, th, ev"""),
    ),

    // ---- grid-density clustering (DBSCAN-lite): points land in 1.0-
    // wide cells over embedding dims 1-2 (exact integer floor
    // division), cells with >= 5 points are CORE, core cells that are
    // 8-neighbors merge via connected components — density clusters
    // with ZERO pairwise distances: the data pass is one cell-keyed
    // count, everything after runs on the cell dictionary. The cell
    // graph uses the q71 CC machinery (min-label = cluster id, so
    // labels are engine-exact).
    QueryDef(
      "q271_grid_density_clusters",
      (s, d) => {
        val pts = Tables(s, d, "embeddings")
          .select(
            expr("cast(round(cast(element_at(embedding, 1) as double) * 1000000, 0) as bigint)").as("x6"),
            expr("cast(round(cast(element_at(embedding, 2) as double) * 1000000, 0) as bigint)").as("y6"))
        graft.operators.GridDensity.clusters(pts, cellMicro = 1000000L, minPts = 5L)
          .orderBy(col("n_points").desc, col("cluster_id").asc)
          .limit(10)
      },
      Some(s"""
        WITH RECURSIVE pts AS (
          SELECT ${floorDivDuck("CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)", 1000000L)} AS cx,
                 ${floorDivDuck("CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)", 1000000L)} AS cy
          FROM embeddings),
        cells AS (
          SELECT cx, cy, count(*) AS npts,
                 (cx + 64) * 16384 + (cy + 64) AS cell
          FROM pts GROUP BY 1, 2 HAVING count(*) >= 5),
        offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                       (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
        nbr AS (
          SELECT c.cell AS ca, n.cell AS cb
          FROM cells c CROSS JOIN offs
          JOIN cells n
            ON n.cell = (c.cx + offs.dx + 64) * 16384 + (c.cy + offs.dy + 64)
          WHERE c.cell < n.cell),
        cedges AS (
          SELECT ca AS src, cb AS dst FROM nbr
          UNION ALL SELECT cb, ca FROM nbr),
        walk(node, lbl) AS (
          SELECT DISTINCT src, src FROM cedges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN cedges e ON e.src = w.node),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node)
        SELECT coalesce(comp.cluster_id, cells.cell) AS cluster_id,
               count(*) AS n_cells,
               CAST(sum(npts) AS BIGINT) AS n_points
        FROM cells LEFT JOIN comp ON comp.node = cells.cell
        GROUP BY 1 ORDER BY n_points DESC, cluster_id LIMIT 10"""),
    ),

    // ---- join-skew diagnosis: per-key mass of the q47 word join,
    // self-join pair-mass estimate c·(c−1)/2, each hot key's share
    // (ppm) and the salt factor that would level it across the
    // session's 32 partitions — the PLANNING step whose output feeds
    // q62's SaltedJoin replicate factor. One data-sized explode-agg;
    // the report is the top-10 dictionary.
    QueryDef(
      "q272_skew_diagnosis",
      (s, d) => {
        val wc = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // vocab dictionary: total + report
        val tot = wc.agg(sum("cnt").as("total"))
        wc.crossJoin(broadcast(tot))
          .select(
            col("word"), col("cnt"),
            expr("cnt * (cnt - 1) div 2").as("pairs_est"),
            expr(halfUpSpark("1000000 * cnt", "total")).as("share_ppm"),
            expr("(cnt * 32 + total - 1) div total").as("salt_rec"))
          .orderBy(col("cnt").desc, col("word").asc)
          .limit(10)
      },
      Some(s"""
        WITH wc AS (
          SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE word <> '' GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wc)
        SELECT word, cnt,
               cnt * (cnt - 1) // 2 AS pairs_est,
               ${halfUpDuck("1000000 * cnt", "total")} AS share_ppm,
               (cnt * 32 + total - 1) // total AS salt_rec
        FROM wc, tot
        ORDER BY cnt DESC, word LIMIT 10"""),
    ),

    // ---- stupid-backoff trigram scoring: score(w3 | w1 w2) =
    // c3/c2(w1w2), backing off to 0.4·c2(w2w3)/c1(w2), then to
    // 0.4²·(c1(w3) | 1 for OOV)/N — the real fallback chain that
    // q117/q142's single-order scores lack. Counts come from the 80%
    // hash-split TRAIN half and only the held-out docs are scored
    // (scoring the counting corpus would never back off — every
    // trigram would be seen). Each log factor is lnMicro of an exact
    // count ratio; ln(0.4) is a PLAN-TIME literal (-916291
    // micro-nats) in both dialects. The declared result is the 10
    // most surprising held-out docs (lowest mean trigram score).
    // Scale shape: count tables are corpus-vocabulary-sized
    // (broadcast here, key-shuffled joins at 100 TB); the trigram
    // stream is a per-row array expression, no self-join.
    QueryDef(
      "q273_stupid_backoff",
      (s, d) => {
        val LN04 = -916291L
        val ln = "CAST(round(ln(%s) * 1000000) AS BIGINT)"
        val all = Tables(s, d, "documents")
          .withColumn("is_train",
            expr(hash60Spark("concat('bo:', doc_id)")) % 10 < 8)
        val docs = all.filter(col("is_train"))
        val evalDocs = all.filter(!col("is_train"))
        def gramsOf(src: DataFrame, n: Int) = src.select(col("doc_id"),
          explode(expr(
            s"""CASE WHEN size(split(text, ' ')) >= $n THEN
                  transform(sequence($n, size(split(text, ' '))),
                    i -> concat_ws(' ', ${(n - 1 to 0 by -1)
                      .map(j => s"element_at(split(text, ' '), i - $j)").mkString(", ")}))
                ELSE cast(array() as array<string>) END""")).as("g"))
        val c1 = gramsOf(docs, 1).groupBy("g").agg(count(lit(1)).as("c1"))
        val c2 = gramsOf(docs, 2).groupBy("g").agg(count(lit(1)).as("c2"))
        val c3 = gramsOf(docs, 3).groupBy("g").agg(count(lit(1)).as("c3"))
        val nTok = c1.agg(sum("c1").as("n_tok"))
        val tri = gramsOf(evalDocs, 3)
          .withColumn("w12", expr("substring_index(g, ' ', 2)"))
          .withColumn("w23", expr("substring_index(g, ' ', -2)"))
          .withColumn("w2", expr("substring_index(w23, ' ', 1)"))
          .withColumn("w3", expr("substring_index(g, ' ', -1)"))
        val scored = tri
          .join(broadcast(c3), tri("g") === c3("g"), "left").drop(c3("g"))
          .join(broadcast(c2.select(col("g").as("w12"), col("c2").as("c2_12"))), Seq("w12"), "left")
          .join(broadcast(c2.select(col("g").as("w23"), col("c2").as("c2_23"))), Seq("w23"), "left")
          .join(broadcast(c1.select(col("g").as("w2"), col("c1").as("c1_2"))), Seq("w2"), "left")
          .join(broadcast(c1.select(col("g").as("w3"), col("c1").as("c1_3"))), Seq("w3"), "left")
          .crossJoin(broadcast(nTok))
          .withColumn("s", expr(s"""
            CASE WHEN c3 IS NOT NULL
                 THEN ${ln.format("CAST(c3 AS DOUBLE) / CAST(c2_12 AS DOUBLE)")}
                 WHEN c2_23 IS NOT NULL
                 THEN $LN04 + ${ln.format("CAST(c2_23 AS DOUBLE) / CAST(c1_2 AS DOUBLE)")}
                 ELSE ${2 * LN04} + ${ln.format("CAST(coalesce(c1_3, 1L) AS DOUBLE) / CAST(n_tok AS DOUBLE)")}
            END"""))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tri"), sum("s").as("ssum"))
          .select(col("doc_id"), col("n_tri"),
            expr(halfUpSpark("ssum", "n_tri")).as("avg_score_micro"))
          .orderBy(col("avg_score_micro").asc, col("doc_id").asc)
          .limit(10)
      },
      Some {
        val LN04 = -916291L
        val ln = "CAST(round(ln(%s) * 1000000) AS BIGINT)"
        def gramsCte(n: Int, name: String, src: String) =
          s"""$name AS (
            SELECT doc_id,
                   unnest(list_transform(range($n, len(string_split(text, ' ')) + 1),
                     i -> ${(n - 1 to 0 by -1)
                       .map(j => s"string_split(text, ' ')[i - $j]")
                       .mkString(" || ' ' || ")})) AS g
            FROM $src)"""
        s"""
        WITH split AS (
          SELECT *, ${hash60Duck("'bo:' || doc_id")} % 10 < 8 AS is_train
          FROM documents),
        train AS (SELECT doc_id, text FROM split WHERE is_train),
        ev AS (SELECT doc_id, text FROM split WHERE NOT is_train),
        ${gramsCte(1, "g1", "train")},
        ${gramsCte(2, "g2", "train")},
        ${gramsCte(3, "g3e", "ev")},
        c1 AS (SELECT g, count(*) AS c1 FROM g1 GROUP BY 1),
        c2 AS (SELECT g, count(*) AS c2 FROM g2 GROUP BY 1),
        c3 AS (SELECT g, count(*) AS c3 FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(3, len(string_split(text, ' ')) + 1),
                          i -> string_split(text, ' ')[i - 2] || ' ' ||
                               string_split(text, ' ')[i - 1] || ' ' ||
                               string_split(text, ' ')[i])) AS g
                 FROM train) GROUP BY 1),
        ntok AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM c1),
        tri AS (
          SELECT doc_id, g,
                 string_split(g, ' ')[1] || ' ' || string_split(g, ' ')[2] AS w12,
                 string_split(g, ' ')[2] || ' ' || string_split(g, ' ')[3] AS w23,
                 string_split(g, ' ')[2] AS w2,
                 string_split(g, ' ')[3] AS w3
          FROM g3e),
        scored AS (
          SELECT tri.doc_id,
                 CASE WHEN c3.c3 IS NOT NULL
                      THEN ${ln.format("CAST(c3.c3 AS DOUBLE) / CAST(c2a.c2 AS DOUBLE)")}
                      WHEN c2b.c2 IS NOT NULL
                      THEN $LN04 + ${ln.format("CAST(c2b.c2 AS DOUBLE) / CAST(c1a.c1 AS DOUBLE)")}
                      ELSE ${2 * LN04} + ${ln.format("CAST(coalesce(c1b.c1, 1) AS DOUBLE) / CAST(n_tok AS DOUBLE)")}
                 END AS s
          FROM tri
          LEFT JOIN c3 ON c3.g = tri.g
          LEFT JOIN c2 c2a ON c2a.g = tri.w12
          LEFT JOIN c2 c2b ON c2b.g = tri.w23
          LEFT JOIN c1 c1a ON c1a.g = tri.w2
          LEFT JOIN c1 c1b ON c1b.g = tri.w3
          CROSS JOIN ntok)
        SELECT doc_id, count(*) AS n_tri,
               ${halfUpDuck("CAST(sum(s) AS BIGINT)", "count(*)")} AS avg_score_micro
        FROM scored GROUP BY 1
        ORDER BY avg_score_micro, doc_id LIMIT 10"""
      },
    ),
  )
}
