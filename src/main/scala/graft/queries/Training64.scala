package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, DeterministicKMeans, Graphs, TextOps}

/** Sixty-fourth wave — graph embedding corpora, model-based anomaly
  * scoring, and partition-quality metrics:
  *
  *  - q359: DETERMINISTIC random-walk corpus over the co-purchase
  *    graph (DeepWalk/node2vec's input): next hop = argmin of a
  *    per-(walk, step, neighbor) hash — a pure function of the graph,
  *    so the walk corpus is reproducible and hash-oracled.
  *  - q360: k-means distance anomaly scoring — the top-10 embeddings
  *    farthest from their nearest centroid (DeterministicKMeans
  *    integer micro-units ⇒ an iterative-ML anomaly score that still
  *    hash-oracles).
  *  - q361: Newman modularity of the language partition measured on
  *    the near-dup LSH graph — the partition-quality number community
  *    detection is judged by, in exact integer ppm.
  */
object Training64 {
  val defs: Seq[QueryDef] = Seq(

    // ---- deterministic random walks (3 steps, one walk per seed =
    // every node ≡ 0 mod 97): at step t the walk at node c moves to
    // the neighbor v minimizing hash60(seed ':' t ':' v) — the
    // hash-argmin replaces the RNG draw, so the corpus is identical on
    // any engine/partitioning (the property that makes a trained-on
    // walk corpus auditable). Scale shape per step: one equi-join of
    // the frontier against the doubled edge list + one walk-keyed
    // window (partition = walk id, rows = neighbor count); W walks ×
    // L steps cost W·deg per step — linear in the walk corpus, which
    // is how DeepWalk-scale corpora are actually generated.
    QueryDef(
      "q359_random_walks",
      (s, d) => {
        val und = Graphs.doubled(
          Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))).localCheckpoint()
        var w: DataFrame = und.select(col("u").as("seed")).distinct()
          .filter(col("seed") % 97 === 0)
          .withColumn("cur", col("seed"))
        for (step <- 1 to 3) {
          val h = TextOps.hash60Spark(
            s"concat(cast(seed as string), ':$step:', cast(v as string))")
          val path = (1 until step).map(i => col(s"n$i"))
          // hash-argmin as min(struct(hv, v)): lexicographic struct min
          // IS the (hv, v)-ordered first row, but as a map-side-
          // combinable aggregate — no per-seed sort window over the
          // neighbor fan-out (the oracle keeps the window form)
          w = w.join(und, col("cur") === col("u"))
            .withColumn("__hv", expr(h))
            .groupBy((col("seed") +: path): _*)
            .agg(min(struct(col("__hv"), col("v"))).as("__m"))
            .select((col("seed") +: path) ++
              Seq(col("__m.v").as(s"n$step"), col("__m.v").as("cur")): _*)
        }
        w.select("seed", "n1", "n2", "n3").orderBy("seed")
      },
      Some {
        def h(step: Int) = TextOps.hash60Duck(
          s"CAST(seed AS VARCHAR) || ':$step:' || CAST(v AS VARCHAR)")
        s"""
        WITH ${Graphs.coPurchaseEdgesDuck},
        und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        w0 AS (SELECT DISTINCT u AS seed FROM und WHERE u % 97 = 0),
        s1 AS (
          SELECT seed, v AS n1 FROM (
            SELECT w0.seed, und.v,
                   row_number() OVER (PARTITION BY w0.seed
                     ORDER BY ${h(1)}, und.v) AS rn
            FROM w0 JOIN und ON und.u = w0.seed) z WHERE rn = 1),
        s2 AS (
          SELECT seed, n1, v AS n2 FROM (
            SELECT s1.seed, s1.n1, und.v,
                   row_number() OVER (PARTITION BY s1.seed
                     ORDER BY ${h(2)}, und.v) AS rn
            FROM s1 JOIN und ON und.u = s1.n1) z WHERE rn = 1),
        s3 AS (
          SELECT seed, n1, n2, v AS n3 FROM (
            SELECT s2.seed, s2.n1, s2.n2, und.v,
                   row_number() OVER (PARTITION BY s2.seed
                     ORDER BY ${h(3)}, und.v) AS rn
            FROM s2 JOIN und ON und.u = s2.n2) z WHERE rn = 1)
        SELECT seed, n1, n2, n3 FROM s3 ORDER BY seed"""
      }),

    // ---- k-means distance anomaly: fit the integer-exact quantizer
    // (k=8, 2 rounds — the q112 coarse settings), then score every
    // vector by its distance² to the NEAREST centroid and report the
    // top-10 farthest (the model-based outlier list a curation
    // pipeline reviews). Centroids enter the plan as literal arrays →
    // the scoring pass is one codegen'd per-row fold, no join; the
    // oracle replays the fit via the unrolled CTE chain and re-derives
    // the same minimum.
    QueryDef(
      "q360_kmeans_anomaly",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val (cents, assigns) =
          DeterministicKMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
        val x6 =
          "transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))"
        val dists = cents.toIndexedSeq.map { c =>
          aggregate(
            zip_with(expr(x6), typedlit(c.toSeq),
              (x, cc) => (x - cc) * (x - cc)),
            lit(0L), (acc, dd) => acc + dd)
        }
        emb.select(col("vec_id"), array_min(array(dists: _*)).as("d2_micro"))
          .join(assigns.withColumnRenamed("vec_id", "vec_id"), "vec_id")
          .select("vec_id", "cluster", "d2_micro")
          .orderBy(col("d2_micro").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        val ctes = DeterministicKMeans.assignmentsCtesBody(
          "embeddings", "vec_id", "embedding", k = 8, iters = 2, pfx = "km_")
        s"""
        WITH $ctes,
        x AS (
          SELECT vec_id, unnest(range(len(embedding))) AS dim,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                   AS BIGINT) AS x6
          FROM embeddings),
        dpc AS (
          SELECT x.vec_id, c.cluster,
                 CAST(sum((x.x6 - c.c6) * (x.x6 - c.c6)) AS BIGINT) AS d2
          FROM x JOIN km_cent1 c ON c.dim = x.dim
          GROUP BY 1, 2),
        best AS (
          SELECT vec_id, min(d2) AS d2_micro FROM dpc GROUP BY 1)
        SELECT b.vec_id, a.cluster, b.d2_micro
        FROM best b JOIN km_assignF a ON a.id = b.vec_id
        ORDER BY b.d2_micro DESC, b.vec_id LIMIT 10"""
      }),

    // ---- Newman modularity of the LANGUAGE partition on the near-dup
    // LSH graph: Q = Σ_c e_c/m − (d_c/2m)², evaluated in EXACT integer
    // ppm over the common denominator 4m² (sign-split half-up, the
    // q144 discipline, since Q may be negative). Answers "does near-
    // duplication respect language boundaries" — the partition-quality
    // number any community assignment is judged by. Scale shape: the
    // pair graph is the audited bucket-capped LSH join; everything
    // after is two keyed aggs over pairs + one over nodes.
    QueryDef(
      "q361_graph_modularity",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
          .localCheckpoint() // m, intra, and deg all read it
        val lang = docs.select(col("doc_id"), col("lang"))
        val lab = pairs
          .join(lang.withColumnRenamed("doc_id", "doc_id_a")
            .withColumnRenamed("lang", "la"), "doc_id_a")
          .join(lang.withColumnRenamed("doc_id", "doc_id_b")
            .withColumnRenamed("lang", "lb"), "doc_id_b")
        val m = pairs.count()
        val eIntra = lab.groupBy("la")
          .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("ec"))
        val deg = pairs.select(col("doc_id_a").as("n"))
          .unionAll(pairs.select(col("doc_id_b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("dg"))
          .join(lang.withColumnRenamed("doc_id", "n"), "n")
          .groupBy(col("lang").as("la")).agg(sum("dg").as("dc"))
        val terms = deg.join(eIntra, Seq("la"), "left")
          .select(coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
          .agg(sum("ec").as("se"), sum(col("dc") * col("dc")).as("sd2"),
            count(lit(1)).as("n_clusters"))
        terms.select(
          lit(m).as("n_edges"), col("n_clusters"),
          expr(s"""CASE
              WHEN 4 * ${m}L * se * 1000000 - sd2 * 1000000 >= 0 THEN
                (2 * (4 * ${m}L * se * 1000000 - sd2 * 1000000)
                 + 4 * ${m}L * ${m}L) div (8 * ${m}L * ${m}L)
              ELSE
                -((2 * (sd2 * 1000000 - 4 * ${m}L * se * 1000000)
                   + 4 * ${m}L * ${m}L) div (8 * ${m}L * ${m}L))
            END""").as("modularity_ppm"))
      },
      Some {
        s"""
        WITH ${TextOps.lshPairsCtesDuck("documents", withWalk = false)},
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        lab AS (
          SELECT la.lang AS la, lb.lang AS lb
          FROM pairs p
          JOIN documents la ON la.doc_id = p.a
          JOIN documents lb ON lb.doc_id = p.b),
        ei AS (
          SELECT la, CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                   AS ec
          FROM lab GROUP BY 1),
        deg AS (
          SELECT d.lang AS la, CAST(sum(dg) AS BIGINT) AS dc FROM (
            SELECT n, count(*) AS dg FROM (
              SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs) z
            GROUP BY 1) dn
          JOIN documents d ON d.doc_id = dn.n
          GROUP BY 1),
        terms AS (
          SELECT CAST(sum(coalesce(ei.ec, 0)) AS BIGINT) AS se,
                 CAST(sum(deg.dc * deg.dc) AS BIGINT) AS sd2,
                 count(*) AS n_clusters
          FROM deg LEFT JOIN ei USING (la))
        SELECT m.m AS n_edges, terms.n_clusters,
               CAST(CASE
                 WHEN 4 * m.m * se * 1000000 - sd2 * 1000000 >= 0 THEN
                   (2 * (4 * m.m * se * 1000000 - sd2 * 1000000)
                    + 4 * m.m * m.m) // (8 * m.m * m.m)
                 ELSE
                   -((2 * (sd2 * 1000000 - 4 * m.m * se * 1000000)
                      + 4 * m.m * m.m) // (8 * m.m * m.m))
               END AS BIGINT) AS modularity_ppm
        FROM m, terms"""
      }),
  )
}
