package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, TextOps}

/** Sixty-first wave — link analysis, fuzzy matching, spatial joins,
  * schema evolution, and survivorship policy:
  *
  *  - q346: HITS hubs/authorities (Kleinberg) on the bipartite
  *    order→part graph — the OTHER classic link-analysis fixpoint
  *    beside PageRank (q109), in exact integer micro-units.
  *  - q347: edit-distance self-join via DELETION-NEIGHBORHOOD blocking
  *    (FastSS): every string explodes into its |w| single-deletion
  *    variants, candidates meet on an equality key — the linear-work
  *    fuzzy join that replaces the O(N²) all-pairs Levenshtein.
  *  - q348: spatial proximity self-join via grid-cell bucketing: each
  *    point probes its 3×3 neighbor cells (cell edge ≥ radius ⇒ exact
  *    recall), exact integer distance² verify — the space-partitioned
  *    join shape a 100 TB geo table needs.
  *  - q349: schema-evolution scan — two parquet generations (one
  *    missing a column written before the schema grew) read as ONE
  *    frame via mergeSchema, the storage-evolution capability every
  *    long-lived warehouse table exercises.
  *  - q350: near-dup cluster survivorship by QUALITY (keep the
  *    best-scoring member, not the smallest id) — the production
  *    canonical-selection policy composed from the LSH pair machinery
  *    (q45/q99) + the q92 gram-diversity score.
  */
object Training61 {
  val defs: Seq[QueryDef] = Seq(

    // ---- HITS (2 authority rounds, 1 hub round, L∞-normalized to
    // micro-units with half-up division — every number exact 64-bit
    // integer, so the fixpoint is bit-identical cross-engine). Scale
    // shape per half-round: ONE keyed agg over the (order, part) edge
    // list + a broadcast scalar max — no N×N matrix, no driver state;
    // k rounds = 2k keyed aggs. Top-10 authorities reported.
    QueryDef(
      "q346_hits",
      (s, d) => {
        val op = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint() // three keyed aggs read it
        def norm(df: DataFrame, sCol: String): DataFrame = {
          // pin the round's keyed agg once: the broadcast max probe and
          // the downstream join would otherwise each re-run it (exchange
          // reuse does not cover the probe's extra agg reliably)
          val base = df.localCheckpoint()
          base.crossJoin(broadcast(base.agg(max(col(sCol)).as("m"))))
            .withColumn("nv", expr(s"(2 * $sCol * 1000000 + m) div (2 * m)"))
        }
        // a1 ∝ in-degree (h0 = 1e6 uniformly)
        val a1 = norm(op.groupBy("p")
          .agg((count(lit(1)) * 1000000L).as("sv")), "sv")
          .select(col("p"), col("nv").as("a"))
        val h1 = norm(op.join(a1, "p").groupBy("o")
          .agg(sum("a").as("sv")), "sv")
          .select(col("o"), col("nv").as("h"))
        val a2 = norm(op.join(h1, "o").groupBy("p")
          .agg(sum("h").as("sv")), "sv")
          .select(col("p").as("p_partkey"),
            col("nv").cast("long").as("authority_micro"))
        a2.orderBy(col("authority_micro").desc, col("p_partkey").asc).limit(10)
      },
      Some("""
        WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        a1r AS (SELECT p, 1000000 * count(*) AS sv FROM op GROUP BY p),
        a1m AS (SELECT max(sv) AS m FROM a1r),
        a1 AS (SELECT p, (2 * sv * 1000000 + m) // (2 * m) AS a FROM a1r, a1m),
        h1r AS (SELECT o, sum(a) AS sv FROM op JOIN a1 USING (p) GROUP BY o),
        h1m AS (SELECT max(sv) AS m FROM h1r),
        h1 AS (SELECT o, (2 * sv * 1000000 + m) // (2 * m) AS h FROM h1r, h1m),
        a2r AS (SELECT p, sum(h) AS sv FROM op JOIN h1 USING (o) GROUP BY p),
        a2m AS (SELECT max(sv) AS m FROM a2r),
        a2 AS (SELECT p, (2 * sv * 1000000 + m) // (2 * m) AS au FROM a2r, a2m)
        SELECT p AS p_partkey, CAST(au AS BIGINT) AS authority_micro
        FROM a2 ORDER BY authority_micro DESC, p_partkey LIMIT 10""")),

    // ---- deletion-neighborhood fuzzy join (FastSS, Bocek et al. 2007):
    // for equal-length strings, lev(a,b) = 1 ⟺ a and b share a
    // single-deletion variant at the same position — so each name
    // explodes into |w| (pos, variant) keys (a per-row Generate, linear
    // in total characters) and candidates meet on an EQUALITY key,
    // never an all-pairs compare. The verify levenshtein(=1) runs on
    // candidates only. Output: how many customer-name pairs differ at
    // each character position — the typo-structure census an entity-
    // resolution pipeline derives before picking blocking keys.
    QueryDef(
      "q347_deletion_neighborhood_join",
      (s, d) => {
        val names = Tables(s, d, "customer").select(col("c_name").as("w")).distinct()
        val vars = names.select(col("w"),
          posexplode(expr(
            """transform(sequence(1, length(w)),
                 i -> concat(substring(w, 1, i - 1),
                             substring(w, i + 1, length(w))))"""))
            .as(Seq("pos0", "variant")))
          .select(col("w"), (col("pos0") + 1).as("pos"), col("variant"))
        vars.as("a").join(vars.as("b"),
            col("a.pos") === col("b.pos") &&
              col("a.variant") === col("b.variant") &&
              col("a.w") < col("b.w"))
          .filter(expr("levenshtein(a.w, b.w) = 1"))
          .groupBy(col("a.pos").cast("int").as("diff_pos"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("diff_pos")
      },
      Some("""
        WITH names AS (SELECT DISTINCT c_name AS w FROM customer),
        vars AS (
          SELECT w, CAST(i AS INTEGER) AS pos,
                 substring(w, 1, CAST(i - 1 AS INTEGER)) ||
                   substring(w, CAST(i + 1 AS INTEGER), len(w)) AS variant
          FROM names, unnest(range(1, len(w) + 1)) AS t(i))
        SELECT a.pos AS diff_pos, count(*) AS n_pairs
        FROM vars a JOIN vars b
          ON a.pos = b.pos AND a.variant = b.variant AND a.w < b.w
        WHERE levenshtein(a.w, b.w) = 1
        GROUP BY 1 ORDER BY 1""")),

    // ---- grid-bucketed proximity self-join: deterministic 2-D points
    // (hash-placed per customer on a 1024×1024 grid), cells of edge 64
    // ≥ radius 32 so the 3×3 neighbor probe has EXACT recall; only the
    // probe side replicates (×9), the build side stays home-cell-keyed,
    // and each qualifying pair is produced exactly once (the offset to
    // the partner's home cell is unique). Exact integer d² ≤ 32²
    // verify on cell-candidates only. The shape that replaces O(N²)
    // distance joins at 100 TB — geohash/S2 bucketing is this plan
    // with a different cell code. The SCALE KNOB is per-cell density:
    // candidate mass per point is 9·(cell area)·density, so a growing
    // deployment GROWS THE DOMAIN (or shrinks cells) to hold density
    // constant — the default 1024² grid is sized for the harness point
    // count, and a density increase (replicated ScaleCheck data on the
    // fixed grid) grows pair mass quadratically by construction.
    // `spark.graft.grid.side` is that knob (default 1024 = the oracle
    // identity, which correctness always runs at — the q229/q230
    // conf discipline): ScaleCheck measures the 10× leg at
    // side = 1024·√10, the production constant-density setting.
    QueryDef(
      "q348_grid_proximity_join",
      (s, d) => {
        val side = s.conf.getOption("spark.graft.grid.side")
          .map(_.toInt).getOrElse(1024)
        val hx = TextOps.hash60Spark("concat(cast(c_custkey as string), ':x')")
        val hy = TextOps.hash60Spark("concat(cast(c_custkey as string), ':y')")
        val pts = Tables(s, d, "customer")
          .select(col("c_custkey").as("id"),
            expr(s"$hx % $side").as("x"), expr(s"$hy % $side").as("y"))
          .withColumn("cx", expr("x div 64"))
          .withColumn("cy", expr("y div 64"))
          .localCheckpoint() // probe + build sides both read it
        import s.implicits._
        val offs = (for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy))
          .toDF("dx", "dy")
        val probe = pts.crossJoin(broadcast(offs))
          .select(col("id"), col("x"), col("y"),
            (col("cx") + col("dx")).as("tx"), (col("cy") + col("dy")).as("ty"))
        val build = pts.select(col("id").as("id2"), col("x").as("x2"),
          col("y").as("y2"), col("cx").as("tx"), col("cy").as("ty"))
        probe.join(build, Seq("tx", "ty"))
          .filter(col("id") < col("id2"))
          .withColumn("d2",
            (col("x") - col("x2")) * (col("x") - col("x2")) +
              (col("y") - col("y2")) * (col("y") - col("y2")))
          .filter(col("d2") <= 1024)
          .select(col("id").as("id_a"), col("id2").as("id_b"), col("d2"))
          .orderBy(col("d2").asc, col("id_a").asc, col("id_b").asc)
          .limit(10)
      },
      Some {
        val hx = TextOps.hash60Duck("CAST(c_custkey AS VARCHAR) || ':x'")
        val hy = TextOps.hash60Duck("CAST(c_custkey AS VARCHAR) || ':y'")
        s"""
        WITH pts AS (
          SELECT c_custkey AS id, $hx % 1024 AS x, $hy % 1024 AS y
          FROM customer),
        cells AS (SELECT id, x, y, x // 64 AS cx, y // 64 AS cy FROM pts),
        probe AS (
          SELECT id, x, y, cx + dx.d AS tx, cy + dy.d AS ty
          FROM cells,
               (SELECT unnest([-1, 0, 1]) AS d) dx,
               (SELECT unnest([-1, 0, 1]) AS d) dy)
        SELECT a.id AS id_a, b.id AS id_b,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        FROM probe a JOIN cells b
          ON a.tx = b.cx AND a.ty = b.cy AND a.id < b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1024
        ORDER BY d2, id_a, id_b LIMIT 10"""
      }),

    // ---- schema evolution: generation 0 of a table was written before
    // the status column existed; generation 1 carries it. mergeSchema
    // unifies the two parquet generations into one scan (missing
    // columns read as NULL — no rewrite of old files, the point of
    // schema evolution), and the rollup fills the gap explicitly. The
    // staging root is per-sfDir and wiped per run.
    QueryDef(
      "q349_schema_evolution_scan",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_schemaevo_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val orders = Tables(s, d, "orders")
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.parquet(s"$root/gen0")
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .write.parquet(s"$root/gen1")
        s.read.option("mergeSchema", "true")
          .parquet(s"$root/gen0", s"$root/gen1")
          .groupBy(coalesce(col("o_orderstatus"), lit("<pre_schema>"))
            .as("status_filled"))
          .agg(count(lit(1)).as("n_orders"),
            graft.Num.dsum(col("o_totalprice")).as("total_price"))
          .orderBy("status_filled")
      },
      Some(s"""
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre_schema>'
                    ELSE o_orderstatus END AS status_filled,
               count(*) AS n_orders,
               ${graft.Num.dsumSql("o_totalprice")} AS total_price
        FROM orders GROUP BY 1 ORDER BY status_filled""")),

    // ---- canonical selection by quality: near-dup clusters from the
    // banded-LSH pair graph (q45 bands → bucket-capped pairs → star
    // components, the audited machinery), then each cluster keeps its
    // highest gram-diversity member (score = distinct-3-gram ppm, the
    // q92 signal; ties → smaller id) instead of min-id survivorship —
    // the policy that keeps the CLEANEST copy when boilerplate
    // variants cluster together. Per-cluster window is cluster-keyed
    // (no global sort); everything upstream is the proven LSH shape.
    QueryDef(
      "q350_dedup_canonical_quality",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = Dedup.minhashCandidatePairs(
          Dedup.minhashBands(docs, "doc_id", "text"), "doc_id")
        val comp = Dedup.connectedComponentsStar(pairs, "doc_id_a", "doc_id_b")
        val score = Training.gramStats(docs)
          .select(col("doc_id"),
            expr("n_distinct_grams * 1000000 div n_grams").as("score_ppm"))
        val m = comp.withColumnRenamed("node", "doc_id").join(score, "doc_id")
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("score_ppm").desc, col("doc_id").asc)
        val canon = m.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("canonical_doc"))
        m.groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max("score_ppm").as("best_ppm"), min("score_ppm").as("worst_ppm"))
          .join(canon, "cluster_id")
          .select("cluster_id", "canonical_doc", "n_members",
            "best_ppm", "worst_ppm")
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE ${TextOps.lshPairsCtesDuck("documents")},
        ${Training.qualityStatsCtesDuck()},
        sc AS (
          SELECT doc_id, n_distinct_grams * 1000000 // n_grams AS score_ppm
          FROM gs),
        m AS (
          SELECT c.cluster_id, c.node AS doc_id, s.score_ppm
          FROM comp c JOIN sc s ON s.doc_id = c.node),
        canon AS (
          SELECT cluster_id, doc_id AS canonical_doc FROM (
            SELECT cluster_id, doc_id,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY score_ppm DESC, doc_id) AS rn
            FROM m) z WHERE rn = 1),
        stats AS (
          SELECT cluster_id, count(*) AS n_members,
                 CAST(max(score_ppm) AS BIGINT) AS best_ppm,
                 CAST(min(score_ppm) AS BIGINT) AS worst_ppm
          FROM m GROUP BY 1)
        SELECT s.cluster_id, c.canonical_doc, s.n_members,
               s.best_ppm, s.worst_ppm
        FROM stats s JOIN canon c USING (cluster_id)
        ORDER BY s.cluster_id""")),
  )
}
