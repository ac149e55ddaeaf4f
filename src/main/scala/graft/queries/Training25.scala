package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.Sinks

/** Twenty-fifth wave: the linear-path twins of the roster's three
  * scale-weak entries, plus storage time travel.
  *
  * q229/q230 re-declare the q210/q212 graph-cleanup machinery with the
  * candidate list coming from the IVF index instead of brute force —
  * the production form. Oracled by the full-probe identity (the q63
  * trick): at nprobe = nlist every inverted list is probed, so the
  * ENTIRE index path (quantizer fit, list routing, probe ranking,
  * per-list candidate join, exact re-rank) must reproduce brute-force
  * top-k exactly, and the DuckDB oracle is the brute-force SQL —
  * reused VERBATIM from q210/q212 (same `defs` entry, so the twins
  * cannot drift). At scale the same code runs with nlist sized to the
  * corpus (constant list length) and a fixed nprobe budget — candidates
  * per query then stay constant as N grows, which is what makes
  * mutual-kNN/kNN-audit linear; the knobs are spark confs
  * (`spark.graft.ann.nlist` / `.nprobe`, defaults 8/8 = the oracle
  * identity) so ScaleCheck measures the production setting of the SAME
  * declared function (measured at 10×, 2026-08: q229 1.7×, q230 1.6× —
  * vs the brute-force twins' quadratic-by-construction exclusion).
  *
  * q231 is the sub-linear link-prediction form q223's scaladoc designs:
  * minhash signatures of NEIGHBOR SETS through the q46 band join
  * (bucket-capped), exact |N∩|/|N∪| verified only on banded candidate
  * pairs — candidate mass is bounded by band-bucket caps instead of
  * Σ deg(w)², which is the swap that survives a dense 100 TB graph
  * (measured at 10×, 2026-08: 2.8× wall vs the exact q223's 18.2×).
  * The whole chain (md5-derived hashes, XOR-mixed minhash, md5 band
  * keys, set intersection) is deterministic and engine-exact, so this
  * approximate index is still hash-oracled: DuckDB replays signatures,
  * banding, cap, and verify.
  *
  * q232 closes the storage loop: versioned snapshot directories
  * (`Sinks.streamUpsert`/`mergeSnapshot` commits) are readable AS OF an
  * old version after later upserts — the offline stand-in for a table
  * format's `VERSION AS OF`, proving upserts never rewrite history.
  */
object Training25 {
  /** Verbatim oracle reuse from the brute-force twin — one definition,
    * zero drift (the q207 lesson).
    */
  private def oracleOf(name: String): String =
    Training18.defs.find(_.name == name)
      .getOrElse(sys.error(s"missing twin $name")).oracle
      .getOrElse(sys.error(s"twin $name has no oracle"))

  /** IVF index knobs: defaults are the full-probe identity (nprobe =
    * nlist = 8 → provably equal to brute force, hash-oracled); at scale
    * nlist is sized to the corpus (constant list length) with a fixed
    * nprobe budget — ScaleCheck sets these confs to measure that
    * setting of the same declared function.
    */
  private def annParams(s: SparkSession): (Int, Int) = (
    s.conf.get("spark.graft.ann.nlist", "8").toInt,
    s.conf.get("spark.graft.ann.nprobe", "8").toInt)

  /** Corpus-as-queries IVF top-k: the candidate stage q229/q230 share. */
  private def ivfTopAll(s: SparkSession, d: String, k: Int): DataFrame = {
    val (nlist, nprobe) = annParams(s)
    val emb = Tables(s, d, "embeddings")
      .withColumn("vec", expr("transform(embedding, x -> cast(x as double))"))
    Similarity.ivfTopK(emb, "vec_id", "vec",
      queryFilter = lit(true), k = k, nlist = nlist, nprobe = nprobe)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- mutual-kNN graph over IVF candidates: identical downstream
    // reciprocal join as q210; only the top-k list's provenance changes
    // (index probe instead of broadcast cross join). localCheckpoint:
    // both sides of the reciprocal join read the top-k list, and
    // re-deriving it would re-run the index probe (the expensive stage).
    QueryDef(
      "q229_mutual_knn_ivf",
      (s, d) => {
        val top = ivfTopAll(s, d, k = 3).localCheckpoint()
        val rev = top.select(
          col("query_id").as("r_cand"), col("cand_id").as("r_query"),
          col("rnk").as("rank_ba"))
        top.join(rev,
          col("query_id") === col("r_query") && col("cand_id") === col("r_cand"))
          .where(col("query_id") < col("cand_id"))
          .select(col("query_id").as("vec_a"), col("cand_id").as("vec_b"),
            col("cos_sim"), col("rnk").as("rank_ab"), col("rank_ba"))
      },
      Some(oracleOf("q210_mutual_knn"))),

    // ---- kNN label audit over IVF candidates: identical vote/majority/
    // rollup joins as q212 on the index-probed top-k list.
    QueryDef(
      "q230_knn_audit_ivf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val labels = Tables(s, d, "embeddings").select(col("vec_id"), col("label"))
        val top = ivfTopAll(s, d, k = 3)
        val votes = top
          .join(labels.select(col("vec_id").as("cand_id"),
            col("label").as("n_label")), "cand_id")
          .groupBy(col("query_id"), col("n_label"))
          .agg(count(lit(1)).as("v"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("v").desc, col("n_label").asc)
        val pred = votes.withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("query_id"), col("n_label").as("pred"))
        pred
          .join(labels.select(col("vec_id").as("query_id"), col("label")),
            "query_id")
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("pred") === col("label"), 1L).otherwise(0L))
              .as("n_correct"))
      },
      Some(oracleOf("q212_knn_label_audit"))),

    // ---- minhash-neighborhood link prediction: per-node neighbor sets
    // → 60-bit id hashes → 4×2 minhash bands (TextOps, the q46
    // machinery) → bucket-capped band self-join for candidates → exact
    // common-neighbor Jaccard verified ONLY on candidates → top-20.
    // Work: O(E) signature computation + band join bounded by the
    // bucket cap + O(cand · deg) verify — never Σ deg(w)². Semantics:
    // top-20 AMONG BANDED CANDIDATES (the standard LSH trade: hub-
    // diluted low-similarity pairs may be missed; high-Jaccard pairs —
    // what top-20 wants — band together with high probability).
    QueryDef(
      "q231_link_prediction_minhash",
      (s, d) => {
        val e = graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))
        val und = graft.operators.Graphs.doubled(e)
        // adjacency once: bands and both verify sides read it
        val adj = und.groupBy("u")
          .agg(collect_set("v").as("nbrs"))
          .withColumn("__nh",
            expr(s"transform(nbrs, x -> ${TextOps.hash60Spark("cast(x as string)")})"))
          .localCheckpoint()
        val bands = adj.select(
          (col("u") +:
            (0 until 4).map(b =>
              expr(TextOps.bandSpark(b, 2, "__nh")).as(s"band$b"))): _*)
        val cand = Dedup.minhashCandidatePairs(bands, "u", maxBucket = 32)
        cand
          .join(adj.select(col("u").as("u_a"), col("nbrs").as("na")), "u_a")
          .join(adj.select(col("u").as("u_b"), col("nbrs").as("nb")), "u_b")
          .select(col("u_a").as("u"), col("u_b").as("v"),
            expr("cast(size(array_intersect(na, nb)) as bigint)").as("cmn"),
            expr("size(na)").as("du"), expr("size(nb)").as("dv"))
          .select(col("u"), col("v"), col("cmn"),
            round(col("cmn").cast("double") /
              (col("du") + col("dv") - col("cmn")), 6).as("jaccard"))
          .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
          .limit(20)
      },
      Some(s"""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        und AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        adj AS (SELECT u, list(DISTINCT v) AS nbrs FROM und GROUP BY u),
        hashed AS (
          SELECT u, nbrs,
                 list_transform(nbrs, x -> ${TextOps.hash60Duck("x::VARCHAR")})
                   AS nh
          FROM adj),
        sig AS (
          SELECT u,
                 ${(0 until 4).map(b => s"${TextOps.bandDuck(b, 2, "nh")} AS band$b")
          .mkString(",\n                 ")}
          FROM hashed),
        stacked AS (
          ${(0 until 4).map(b => s"SELECT u, $b AS band_idx, band$b AS band_key FROM sig")
          .mkString("\n          UNION ALL ")}),
        ok AS (SELECT band_idx, band_key FROM stacked
               GROUP BY 1, 2 HAVING count(*) <= 32),
        kept AS (SELECT s.* FROM stacked s JOIN ok USING (band_idx, band_key)),
        cand AS (
          SELECT DISTINCT a.u AS ua, b.u AS ub
          FROM kept a JOIN kept b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.u < b.u),
        scored AS (
          SELECT c.ua AS u, c.ub AS v,
                 len(list_intersect(x.nbrs, y.nbrs)) AS cmn,
                 len(x.nbrs) AS du, len(y.nbrs) AS dv
          FROM cand c
          JOIN adj x ON x.u = c.ua
          JOIN adj y ON y.u = c.ub)
        SELECT u, v, CAST(cmn AS BIGINT) AS cmn,
               round(CAST(cmn AS DOUBLE) / (du + dv - cmn), 6) AS jaccard
        FROM scored
        ORDER BY jaccard DESC, u, v
        LIMIT 20""")),

    // ---- snapshot time travel: commit orders as snapshot v0, MERGE a
    // re-priced delta as v1 (the mergeSnapshot commit streamUpsert's
    // microbatches use), then read AS OF v0 — which must equal the
    // ORIGINAL batch byte-for-byte, proving the upsert never rewrote
    // history. The oracle is the v0 batch (plain orders projection).
    // The snapshot root is wiped per run so the version chain is
    // deterministic; reads prune to exactly one version directory.
    QueryDef(
      "q232_snapshot_time_travel",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_timetravel_${Integer.toHexString(d.hashCode)}").toString
        // own scratch dir (name-spaced per sfDir): wipe for a
        // deterministic v0→v1 chain on every run
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .withColumn("v", lit(0L))
        base.write.mode("overwrite").parquet(s"$root/v0")
        val delta = base
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("v", lit(1L))
        Sinks.mergeSnapshot(delta, root, Seq("o_orderkey"), "v", version = 1L)
        Sinks.readSnapshot(s, root, version = 0L).drop("v")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders""")),
  )
}
