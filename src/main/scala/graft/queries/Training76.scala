package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{DeterministicKMeans, EquiDepthBins}

/** Seventy-sixth wave — clustering quality, sequence similarity, and
  * statistics-answered queries:
  *
  *  - q394: centroid silhouette for the q52 k-means model — per row,
  *    a = dist to own centroid, b = dist to the nearest other; the
  *    score (b−a)/b in half-up milli. Distances are integer
  *    micro-sums whose square roots are IEEE-exact (sqrt is correctly
  *    rounded, so floor∘sqrt agrees bit-for-bit across engines) —
  *    which is what lets a CLUSTERING QUALITY metric be hash-oracled.
  *  - q395: pairwise sequence similarity — users paired (even, +1),
  *    their chronological event-code strings compared by Levenshtein
  *    edit distance (identical unit-cost DP in both engines). The
  *    per-pair DP is bounded by capping at 500 codes; pair selection
  *    is a key-local join, so the quadratic never touches the corpus.
  *  - q396: histogram-answered range count — a 64-bin equi-depth
  *    summary (driver-sized) answers COUNT(v BETWEEN lo AND hi)
  *    without rescanning: interior bins count exactly, the ≤2 boundary
  *    bins bound the error by construction (est = midpoint, err ≤
  *    ⌈partial/2⌉). The exact recount rides along as the witness and
  *    the bound flag is pinned TRUE — summary-answerable queries are
  *    how a 100 TB engine serves dashboards without touching the fact.
  *    THIS exact-percentile form is the ORACLE TRUTH; the declared
  *    plan that survives 100 TB is its sketch-boundary twin
  *    q489_histogram_answering_sketch (one mergeable approx_percentile
  *    agg, slab-population + error-bound contract gates — the
  *    q318→q344 recipe) — reach for q489 at scale.
  */
object Training76 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q394_kmeans_silhouette",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val (cents, _) = DeterministicKMeans.fit(
          emb, "vec_id", "embedding", k = 8, iters = 5)
        val v6 = emb.select(col("vec_id"),
          expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))")
            .as("__v6"))
        def distCol(c: Array[Long]) = aggregate(
          zip_with(col("__v6"), typedLit(c.toSeq), (x, cc) => (x - cc) * (x - cc)),
          lit(0L), (acc, dd) => acc + dd)
        val ds = array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
          struct(distCol(c).as("d"), lit(i.toLong).as("c"))
        }: _*)
        v6.withColumn("__s", array_sort(ds))
          .selectExpr("element_at(__s, 1).c AS cluster",
            "CAST(floor(sqrt(CAST(element_at(__s, 1).d AS DOUBLE))) AS BIGINT) AS ia",
            "CAST(floor(sqrt(CAST(element_at(__s, 2).d AS DOUBLE))) AS BIGINT) AS ib")
          .selectExpr("cluster",
            """CASE WHEN ib = 0 THEN 0L
               ELSE (2000 * (ib - ia) + ib) div (2 * ib) END AS s""")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"),
            expr("(2 * sum(s) + count(1)) div (2 * count(1))")
              .as("mean_sil_milli"))
          .orderBy("cluster")
      },
      Some(DeterministicKMeans.assignmentsDuckCtes(
        "embeddings", "vec_id", "embedding", k = 8, iters = 5) + """
        , sil AS (
          SELECT f.id, a.cluster,
                 CAST(floor(sqrt(CAST(MIN(CASE WHEN f.cluster = a.cluster
                     THEN f.d END) AS DOUBLE))) AS BIGINT) AS ia,
                 CAST(floor(sqrt(CAST(MIN(CASE WHEN f.cluster != a.cluster
                     THEN f.d END) AS DOUBLE))) AS BIGINT) AS ib
          FROM distF f JOIN assignF a ON a.id = f.id
          GROUP BY f.id, a.cluster),
        srow AS (
          SELECT cluster,
                 CASE WHEN ib = 0 THEN 0
                      ELSE (2000 * (ib - ia) + ib) // (2 * ib) END AS s
          FROM sil)
        SELECT cluster, CAST(count(*) AS BIGINT) AS n,
               CAST((2 * sum(s) + count(*)) // (2 * count(*)) AS BIGINT)
                 AS mean_sil_milli
        FROM srow GROUP BY cluster ORDER BY cluster""")),

    QueryDef(
      "q395_sequence_edit_distance",
      (s, d) => {
        val seqs = Tables(s, d, "events").selectExpr("user_id",
          "unix_micros(ts) AS ts_us", "event_id",
          """CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             WHEN 'purchase' THEN 'p' ELSE 'e' END AS code""")
          .groupBy("user_id")
          .agg(expr("""left(array_join(transform(
              array_sort(collect_list(struct(ts_us, event_id, code))),
              x -> x.code), ''), 500)""").as("seq"))
          .localCheckpoint() // both sides of the pair join read it
        val a = seqs.filter(pmod(col("user_id"), lit(2)) === 0)
          .select(col("user_id").as("user_a"), col("seq").as("seq_a"))
        val b = seqs.select((col("user_id") - 1).as("user_a"),
          col("user_id").as("user_b"), col("seq").as("seq_b"))
        a.join(b, "user_a")
          .withColumn("edit_dist",
            levenshtein(col("seq_a"), col("seq_b")).cast("long"))
          .selectExpr("user_a", "user_b",
            "CAST(length(seq_a) AS BIGINT) AS len_a",
            "CAST(length(seq_b) AS BIGINT) AS len_b", "edit_dist",
            """(2000 * (greatest(length(seq_a), length(seq_b)) - edit_dist)
               + greatest(length(seq_a), length(seq_b)))
               div (2 * nullif(greatest(length(seq_a), length(seq_b)), 0))
               AS sim_milli""")
          .orderBy("user_a")
      },
      Some("""
        WITH seqs AS (
          SELECT user_id,
                 left(string_agg(CASE event_type
                     WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                     WHEN 'purchase' THEN 'p' ELSE 'e' END, ''
                   ORDER BY epoch_us(ts), event_id), 500) AS seq
          FROM events GROUP BY user_id),
        pairs AS (
          SELECT a.user_id AS user_a, b.user_id AS user_b,
                 a.seq AS seq_a, b.seq AS seq_b,
                 CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS edit_dist
          FROM seqs a JOIN seqs b ON b.user_id = a.user_id + 1
          WHERE a.user_id % 2 = 0)
        SELECT user_a, user_b,
               CAST(length(seq_a) AS BIGINT) AS len_a,
               CAST(length(seq_b) AS BIGINT) AS len_b, edit_dist,
               CAST((2000 * (greatest(length(seq_a), length(seq_b))
                      - edit_dist)
                     + greatest(length(seq_a), length(seq_b)))
                 // (2 * nullif(greatest(length(seq_a), length(seq_b)), 0))
                 AS BIGINT) AS sim_milli
        FROM pairs ORDER BY user_a""")),

    QueryDef(
      "q396_histogram_answering",
      (s, d) => {
        val lo = 2000000.0; val hi = 6000000.0
        val qs = (1 to 63).map(i => i / 64.0).mkString(", ")
        val v = Tables(s, d, "lineitem")
          .selectExpr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v")
          .localCheckpoint() // boundaries, summary, and witness read it
        val bs = v.agg(
          expr(s"transform(percentile(v, array($qs)), q -> round(q, 6))")
            .as("bs")).head().getSeq[Double](0)
        val caseExpr = EquiDepthBins.searchCountExpr(
          "v", bs.map(b => s"${b}D"), strict = true)
        val summary = v.select(expr(caseExpr).as("slab"))
          .groupBy("slab").agg(count(lit(1)).as("n"))
          .collect()
          .map(r => r.getAs[Number](0).intValue() -> r.getLong(1)).toMap
        val sl = bs.count(lo > _); val sh = bs.count(hi > _)
        val inner = summary.collect {
          case (s0, n) if s0 > sl && s0 < sh => n }.sum
        val partial = summary.collect {
          case (s0, n) if s0 == sl || s0 == sh => n }.sum
        val est = inner + (partial + 1) / 2
        val maxErr = partial / 2 + 1
        v.filter(col("v").between(lo, hi))
          .agg(count(lit(1)).as("exact_n"))
          .selectExpr("exact_n", s"${est}L AS est_n", s"${maxErr}L AS max_err",
            s"CAST(${partial}L AS BIGINT) AS partial_n",
            s"abs(${est}L - exact_n) <= ${maxErr}L AS bound_ok")
      },
      Some {
        val qs = (1 to 63).map(i => i / 64.0).mkString(", ")
        s"""
        WITH v AS (
          SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
          FROM lineitem),
        bs AS (
          SELECT list_transform(quantile_cont(v, [$qs]), q -> round(q, 6))
            AS bs FROM v),
        slabs AS (
          SELECT len(list_filter(bs.bs, e -> v.v > e)) AS slab,
                 count(*) AS n
          FROM v, bs GROUP BY 1),
        lim AS (
          SELECT len(list_filter(bs, e -> 2000000.0 > e)) AS sl,
                 len(list_filter(bs, e -> 6000000.0 > e)) AS sh
          FROM bs),
        agg AS (
          SELECT
            COALESCE(SUM(CASE WHEN slab > sl AND slab < sh THEN n END), 0)
              AS inner_n,
            COALESCE(SUM(CASE WHEN slab = sl OR slab = sh THEN n END), 0)
              AS partial_n
          FROM slabs, lim),
        ex AS (
          SELECT count(*) AS exact_n FROM v
          WHERE v BETWEEN 2000000 AND 6000000)
        SELECT CAST(exact_n AS BIGINT) AS exact_n,
               CAST(inner_n + (partial_n + 1) // 2 AS BIGINT) AS est_n,
               CAST(partial_n // 2 + 1 AS BIGINT) AS max_err,
               CAST(partial_n AS BIGINT) AS partial_n,
               abs(inner_n + (partial_n + 1) // 2 - exact_n)
                 <= partial_n // 2 + 1 AS bound_ok
        FROM agg, ex"""
      }),
  )
}
