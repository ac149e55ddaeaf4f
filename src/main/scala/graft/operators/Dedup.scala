package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User-facing dedup API over a document frame (id column + text
  * column): exact, MinHash-LSH, and SimHash. Thin composition over
  * TextOps' per-row expressions — each step is codegen'd, and the only
  * shuffles are the group-by/band joins that define the algorithms.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * surviving (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(idCol).as(s"keeper_$idCol"), count(lit(1)).as("n_copies"))

  /** Pair-count ceiling below which connected components run as
    * driver-side union-find over the COLLECTED pair list instead of
    * distributed label rounds (overridable via conf
    * `spark.graft.cc.localLimit`). Rationale (round-12 profile): the
    * near-dup pair graph of a deduplicated corpus is the CLUSTER
    * structure, not the corpus — q350's sf0.1 graph is 339 pairs / 625
    * nodes, and the distributed star contraction spent 3.2 s of the
    * query's 3.8 s launching ~20 rounds of joins + except-probes over
    * it. 500k pairs collect to ~8 MB and union-find in milliseconds;
    * past the limit the O(log n)-round star plan takes over (the
    * 100 TB shape). The probe is one limit-pushed collect — when the
    * graph IS small, the probe already fetched it, so nothing runs
    * twice.
    */
  val defaultCcLocalLimit: Long = 500000L

  /** Driver-side union-find (path compression) over a collected pair
    * list, relabeled to the component MINIMUM — bit-identical to the
    * distributed variants' min-id labeling. Returns (node, cluster_id).
    */
  private def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      pairRows: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve the path
        x = parent(x)
      }
      x
    }
    pairRows.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    val label = parent.keys.toSeq.sorted
      .groupBy(find).flatMap { case (_, members) =>
        val m = members.min
        members.map(_ -> m)
      }
    import spark.implicits._
    label.toSeq.sorted.toDF("node", "cluster_id")
  }

  /** Shared small-graph dispatch for both CC variants. Returns
    * Right(result) when the pair list fits under the local ceiling
    * (driver union-find over the collected rows), Left(pairs) when the
    * caller's distributed plan should run — the Left frame has columns
    * (u, v) long-typed and null-free, and when the probe ran it is a
    * CHECKPOINTED materialization, so the over-limit fallback reuses
    * the probe's rows instead of recomputing the (possibly expensive —
    * LSH self-join) upstream pipeline a second time (round-12
    * advisory). Three more hardenings from the same advisory batch:
    * null pair ids are filtered here (matching the distributed plans,
    * where a null key never joins — the driver path would otherwise
    * NPE on getLong), limits at or above Int.MaxValue-1 route to the
    * distributed path (the Int-typed probe could never detect
    * truncation past that, and a >2G-pair driver union-find is not a
    * sane configuration), and the limit<=0 opt-out returns a LAZY
    * frame, so explain-only plan construction runs no jobs when local
    * dispatch is disabled.
    */
  private def componentsDispatch(
      pairs: DataFrame, aCol: String, bCol: String): Either[DataFrame, DataFrame] = {
    val spark = pairs.sparkSession
    val limit = spark.conf.get("spark.graft.cc.localLimit",
      defaultCcLocalLimit.toString).toLong
    val proj = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
    if (limit <= 0 || limit >= Int.MaxValue - 1L) return Left(proj)
    val mat = graft.Iterate.ckpt(proj)
    val probe = mat.limit(limit.toInt + 1).collect()
    if (probe.length > limit) Left(mat)
    else Right(localComponents(spark,
      probe.map(r => (r.getLong(0), r.getLong(1)))))
  }

  /** Per-document MinHash-LSH band keys over word-3-gram shingles:
    * returns (idCol, band0..band{bands-1}). Documents sharing any band
    * are near-dup candidates.
    */
  def minhashBands(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    df.withColumn("__wh", expr(TextOps.wordHashesSpark(textCol)))
      .withColumn("__hh", expr(TextOps.ngramHashesSpark(3, "__wh")))
      .select(
        (col(idCol) +:
          (0 until bands).map(b =>
            expr(TextOps.bandSpark(b, rowsPerBand, "__hh")).as(s"band$b"))): _*)

  /** Candidate near-dup pairs (idA < idB) from minhashBands output.
    *
    * `maxBucket` bounds the fan-out of the band self-join: a band bucket
    * holding k documents yields k² join rows, and on a power-law corpus
    * (boilerplate, templated pages) a degenerate bucket can hold an
    * unbounded share of the corpus. Buckets larger than `maxBucket` are
    * dropped BEFORE the join, so candidate generation is O(Σ min(k,cap)²)
    * instead of O(Σ k²). Oversized buckets are overwhelmingly exact or
    * boilerplate duplicates — the linear-cost exact path (exactGroups)
    * catches those without a pair join; LSH is for the near-dup tail.
    * Default 32 is far above any bucket the harness data produces
    * (max observed: 4 at sf0.1), so small-SF results are unchanged.
    */
  def minhashCandidatePairs(
      bandsDf: DataFrame, idCol: String, maxBucket: Int = 32): DataFrame = {
    // exactly the generated band0..bandN names — a bare startsWith would
    // sweep an id column named e.g. "band_id" into the band array
    val bands = bandsDf.columns.filter(_.matches("band\\d+"))
    val stacked = bandsDf.select(col(idCol),
      posexplode(array(bands.map(col).toIndexedSeq: _*)).as(Seq("band_idx", "band_key")))
    // bucket sizes: one keyed agg (map-side combinable); the join back is
    // an equi-join on the same key, so AQE plans it alongside the self-join.
    // Fast path when no bucket is oversized (the common case): the filter
    // join would keep everything, so skip it — only the one sizing pass
    // is paid for the cap guarantee.
    val oversized = stacked.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .drop("__bsz")
      .cache()
    def pairsOf(kept: DataFrame): DataFrame =
      kept.as("a").join(kept.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
        .distinct()
    if (oversized.isEmpty) { oversized.unpersist(); pairsOf(stacked) }
    else
      // hot-bucket path: materialize the (cap-bounded) pair set so the
      // oversized cache can be released here — the lazy form leaked it
      // for the session (there is no later lifecycle hook to free it)
      try pairsOf(
        stacked.join(oversized, Seq("band_idx", "band_key"), "left_anti"))
        .localCheckpoint()
      finally oversized.unpersist()
  }

  /** Word-3-gram Jaccard similarity for every document pair sharing at
    * least one (non-hot) shingle. Explode-join formulation: |A∩B| comes
    * from a self-join on the shingle hash (grouped per pair),
    * |A∪B| = |A|+|B|-|A∩B| — work scales with actual shingle
    * co-occurrence, not with pairs².
    *
    * `dfCap` is the hot-shingle guard: a shingle appearing in k documents
    * contributes k² rows to the self-join, and real corpora have
    * power-law shingles (stop-phrases, boilerplate), so the uncapped join
    * explodes quadratically on exactly the shingles that carry no
    * near-dup signal. Shingles with document frequency > dfCap are
    * dropped before the join AND from the set sizes, i.e. Jaccard is
    * computed over the df≤cap shingle space — standard practice in
    * near-dup mining. The anti-join against the hot set is left
    * unhinted: on typical corpora the df>cap set is small and AQE
    * broadcasts it, but a worst-case corpus can have a non-broadcastable
    * hot set, in which case it shuffles on the same key (h) as the pair
    * join that follows. Default 64 is above any df the harness data
    * produces (max observed: 25 at sf0.1), so small-SF results are
    * byte-identical to the uncapped form.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String, dfCap: Int = 64): DataFrame = {
    val docs = df
      .withColumn("__wh", expr(TextOps.wordHashesSpark(textCol)))
      .select(col(idCol), expr(TextOps.ngramHashesSpark(3, "__wh")).as("__ngrams"))
      .cache()
    try {
      val cp = cappedPostings(docs, idCol, "__ngrams", dfCap)
      val (ex, sizes, release) = (cp.postings, cp.sizes, cp.release)
      val shared = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      val result = shared
        .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6)
            .as("jaccard"))
        .localCheckpoint() // materialize so the caches can be freed
      release()
      result
    } finally docs.unpersist()
  }

  /** Hot-shingle-capped postings for a cached (idCol, ngramsCol array)
    * frame: the exploded (idCol, h) stream with shingles of document
    * frequency > dfCap removed, plus the post-cap set sizes — the
    * interior of [[jaccardPairs]] exposed so every shingle
    * co-occurrence join (jaccard, containment, prefix-filter) shares
    * ONE cap discipline. A shingle in k documents contributes k² rows
    * to any co-occurrence self-join, and real corpora have power-law
    * shingles (stop-phrases, boilerplate) that carry no similarity
    * signal — dropping them BEFORE the join (and from the set sizes,
    * i.e. similarity is computed over the df≤cap shingle space) is what
    * bounds the join at 100 TB.
    *
    * The hot set itself is cached (it is the small side of the
    * anti-join; the exploded stream is NOT cached — at scale
    * recomputing the explode from the cached docs frame is cheaper than
    * materializing it). Fast path when no shingle is hot (the common
    * case at harness SF): the anti-join would filter nothing and the
    * post-cap sizes equal the per-row array sizes, so both are skipped
    * — results identical by construction, and only the one df-scan pass
    * is paid for the cap guarantee.
    *
    * Returns postings + sizes + `anyHot` (false = the fast path fired,
    * so postings are exactly the per-row arrays — callers can derive
    * per-row structures like sorted prefixes straight from the array
    * column in codegen); call release() after materializing downstream
    * results to free the internal cache.
    */
  def cappedPostings(
      docs: DataFrame, idCol: String, ngramsCol: String, dfCap: Int)
      : CappedPostings = {
    val ex0 = docs.select(col(idCol), explode(col(ngramsCol)).as("h"))
    val hot = ex0.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > dfCap).drop("__df").cache()
    val release = () => { hot.unpersist(); () }
    if (hot.isEmpty)
      CappedPostings(ex0,
        docs.select(col(idCol), size(col(ngramsCol)).cast("long").as("n")),
        anyHot = false, release)
    else {
      val e = ex0.join(hot, Seq("h"), "left_anti")
      // post-cap set sizes (keyed agg; co-keyed with the pair grouping)
      CappedPostings(
        e, e.groupBy(col(idCol)).agg(count(lit(1)).as("n")),
        anyHot = true, release)
    }
  }

  /** See [[cappedPostings]]. */
  final case class CappedPostings(
      postings: DataFrame, sizes: DataFrame,
      anyHot: Boolean, release: () => Unit)

  /** End-to-end corpus dedup — the full pipeline composed: exact dedup
    * first (linear hash-groupBy removes identical mass BEFORE any pair
    * join, which is what keeps LSH buckets small — see minhash cap
    * docs), then MinHash-LSH candidate pairs over the exact keepers,
    * connected components to turn pairs into clusters, and min-id
    * survivorship. Returns one row per surviving document with
    * `n_represented` = how many raw documents it stands for
    * (Σ n_represented = |corpus| — nothing is lost or double-counted).
    *
    * `components` defaults to [[connectedComponentsStar]] — O(log n)
    * rounds on ANY pair graph, so an adversarial corpus (chained
    * near-dups: doc₁≈doc₂≈…≈docₙ) cannot turn the clustering into
    * O(diameter) shuffles. Both variants produce the identical min-id
    * labeling, so the swap is invisible to results; pass
    * [[connectedComponents]] (min-label propagation — one keyed agg +
    * one join per round vs star's two of each) as the explicit option
    * for graphs KNOWN shallow, where its ~2 rounds are cheaper than
    * star's fixed ~log n.
    */
  def dedupe(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2, maxBucket: Int = 32,
      components: (DataFrame, String, String) => DataFrame =
        connectedComponentsStar(_, _, _)): DataFrame = {
    val exact = exactGroups(df, idCol, textCol)
      .select(col(s"keeper_$idCol").as(idCol), col("n_copies"))
    val keepers = df.join(exact, idCol)
    val pairs = minhashCandidatePairs(
      minhashBands(keepers, idCol, textCol, bands, rowsPerBand), idCol, maxBucket)
    val comp = components(pairs, s"${idCol}_a", s"${idCol}_b")
    keepers.select(col(idCol), col("n_copies"))
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("cluster_id"), col(idCol)))
      .groupBy(col("__rep").as(idCol))
      .agg(sum("n_copies").as("n_represented"))
  }

  /** Per-document SimHash signature (near-dups have small hamming
    * distance).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    df.withColumn("__wh", expr(TextOps.wordHashesSpark(textCol)))
      .select(col(idCol), expr(TextOps.simhashSpark("__wh", bits)).as(s"simhash$bits"))

  /** Connected components over an undirected candidate-pair edge list
    * (e.g. minhashCandidatePairs output): returns (node, cluster_id)
    * where cluster_id is the minimum node id in the component — the
    * step that turns pairwise near-dup hits into whole duplicate
    * clusters so one canonical document per cluster can survive.
    *
    * Algorithm: distributed min-label propagation. Every node starts
    * labeled with its own id; each round every node adopts the minimum
    * label among itself and its neighbors (one shuffle join on the
    * edge list + one min-aggregation), until a round changes nothing.
    * Rounds needed = graph diameter, and near-dup cluster graphs are
    * shallow (dozens of docs sharing band keys), so this converges in
    * a handful of rounds. Per round the work is one shuffle of the
    * edge list — never a cross join, never driver-side graph state;
    * the per-round result is localCheckpoint'd so lineage (and
    * re-execution cost at 100 TB) stays constant across rounds.
    *
    * Deterministic: min() is order-independent, so the result is
    * identical under any partitioning / executor count.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame = {
    // small-graph dispatch (round 12): see defaultCcLocalLimit
    val proj = componentsDispatch(pairs, aCol, bCol) match {
      case Right(r) => return r
      case Left(p) => p
    }
    val half = proj.select(col("u").as("src"), col("v").as("dst"))
    // undirected: propagate both ways every round
    val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("cluster_id", col("node"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("cluster_id").as("nbr_min"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).as("__chg"))
        .localCheckpoint(true)
      val changed = stepped.filter(col("__chg")).limit(1).count()
      labels = stepped.drop("__chg")
      converged = changed == 0L
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Connected components via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — same API and output as connectedComponents, different
    * convergence envelope: O(log n) rounds on ANY graph vs min-label
    * propagation's O(diameter). Near-dup cluster graphs are shallow, so
    * propagation is the cheaper default; this is the variant for deep
    * graphs (long chains — reference-linkage, session stitching), where
    * a 10k-hop path costs propagation 10k shuffles and this ~14.
    *
    * Each round: large-star links every neighbor v > u to m = min(Γ⁺(u));
    * small-star links every neighbor v < u (and u itself) to m. Edges are
    * re-symmetrized between phases; fixed points are stars centered at
    * the component minimum, from which labels read off as min(Γ⁺(node)).
    * Per round the work is two keyed min-aggregations + two equi-joins on
    * the edge list — no cross join, no driver graph state; per-round
    * results are localCheckpoint'd so lineage stays flat.
    */
  def connectedComponentsStar(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame =
    connectedComponentsStarCounted(pairs, aCol, bCol, maxIter)._1

  /** Star contraction with LEAF PEELING (round-14 — the delta-frontier
    * discipline applied WITHIN still-active components; generalizes
    * round-13's settled-star parking, which it subsumes).
    *
    * The textbook alternating loop rewrites the FULL edge set every
    * round and probes convergence with two `except`s — at 100 TB a
    * graph whose last unfinished component holds 50 nodes still pays a
    * whole-graph double-star plus a whole-graph anti-join per round.
    * Round 13 parked components that had contracted to an ISOLATED
    * min-centered star; that retired finished components (and the
    * except-probe: an empty remainder IS convergence) but a pure chain
    * — the worst case — still re-ran its full mass every round, because
    * nothing finishes until everything does.
    *
    * Round 14 removes work at NODE granularity instead, in two phases.
    * A PEEL/CONTRACT pass removes, with their edges:
    *  - leaves — deg-1 nodes whose single neighbor is smaller (they lie
    *    on no path between other nodes and cannot be the component
    *    min), and
    *  - path nodes — deg-2 nodes with a smaller neighbor that are the
    *    strict (xxhash64, id)-maximum of their two neighbors (an
    *    independent set, so the bridge edge each leaves between its
    *    neighbors always lands on survivors);
    * each removal parks a pointer node → smaller-neighbor. Phase 1 runs
    * these passes to exhaustion BEFORE any star round: star rounds
    * transiently DENSIFY sparse regions (a 200k-edge pure chain grows
    * to 5.2M active rows mid-loop — measured), so peeling must happen
    * while the graph is still sparse; on a pure chain phase 1 collapses
    * everything geometrically (~×0.7 per pass, strictly shrinking — the
    * planted-graph specs pin the sequences) and the star loop never
    * runs. Phase 2 is the alternating-star loop for whatever dense core
    * the peel cannot drain, with the same pass applied after each
    * double-star round (usually a no-op there, but it retires finished
    * stars the round they appear — the round-13 parking behavior falls
    * out as a special case).
    *
    * Pointers strictly decrease in node value, so the pending forest is
    * acyclic; pointer-jumping self-joins of the node-sized pending
    * table flatten every chain to its never-removed terminal in
    * O(log depth) passes; terminals' labels come from the loop's
    * residual extraction (or are themselves component minima).
    *
    * `maxIter` exhaustion with edges still active falls back to the
    * original label extraction (min over the current neighborhood) for
    * the unpeeled remainder — same convergence envelope as before, so
    * the peeling is invisible to results.
    */
  private[graft] def connectedComponentsStarCounted(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20)
      : (DataFrame, Int, Seq[Long]) = {
    // small-graph dispatch (round 12): see defaultCcLocalLimit
    val proj = componentsDispatch(pairs, aCol, bCol) match {
      case Right(r) => return (r, 0, Seq.empty)
      case Left(p) => p
    }
    val spark = proj.sparkSession
    val half = proj
    val nodes = graft.Iterate.ckpt(
      half.select(col("u").as("node"))
        .union(half.select(col("v").as("node")))
        .distinct())
    var active = graft.Iterate.ckpt(
      half.union(half.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct())

    def star(e: DataFrame, large: Boolean): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("__m"))
      val kept = e.join(m, "u")
        .filter(if (large) col("v") > col("u") else col("v") < col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
      val selfLink = m.select(col("u"), col("__m").as("v"))
      val out = kept.union(selfLink).filter(col("u") =!= col("v"))
      // re-symmetrize: Γ(u) must see both endpoints next phase
      out.union(out.select(col("v").as("u"), col("u").as("v"))).distinct()
    }

    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "node", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "parent", org.apache.spark.sql.types.LongType))))
    var pending = empty
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()

    /** One peel/contract pass over a symmetric+distinct edge set.
      * Removes, with their edges:
      *  - LEAVES: deg-1 nodes whose single neighbor is smaller — they
      *    lie on no path between other nodes and cannot be their
      *    component's min, so their label is their neighbor's label;
      *  - PATH NODES: deg-2 nodes with a smaller neighbor (the non-min
      *    proof) that are the strict (xxhash64, id)-maximum of their
      *    closed pair of neighbors — the hash-local-max test makes the
      *    contracted set independent (no two adjacent), so the BRIDGE
      *    edge each one leaves between its two neighbors always lands
      *    on surviving nodes (a bridge endpoint can only disappear the
      *    same round as a leaf, i.e. a dead end that needed no bridge).
      * Each removal parks a pointer (node → smaller neighbor); pointers
      * strictly decrease in node value, so the pending forest is
      * acyclic and the post-loop pointer jumping resolves it.
      * Returns (newActive, anyRemoved); `e` itself when nothing was
      * removed.
      */
    def peelContract(e: DataFrame): (DataFrame, Boolean) = {
      val hv = max(struct(xxhash64(col("v")), col("v"))).as("__hmax")
      val stats = e.groupBy("u").agg(
        count(lit(1)).as("__d"), min("v").as("__nmin"),
        max("v").as("__nmax"), hv)
      val removable = graft.Iterate.ckpt(
        stats.filter(
          (col("__d") === 1 && col("__nmin") < col("u")) ||
            (col("__d") === 2 && col("__nmin") < col("u") &&
              struct(xxhash64(col("u")), col("u")) > col("__hmax")))
          .select(col("u").as("node"), col("__nmin").as("parent"),
            col("__d").as("__dd"), col("__nmax")))
      if (removable.limit(1).count() == 0L) return (e, false)
      pending = pending.union(removable.select("node", "parent"))
      val b0 = removable.filter(col("__dd") === 2)
        .select(col("parent").as("u"), col("__nmax").as("v"))
      val bridges = b0.union(b0.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      val ids = removable.select(col("node").as("__l"))
      val nxt = graft.Iterate.ckpt(
        e.union(bridges)
          .join(ids, col("u") === col("__l"), "left_anti")
          .join(ids, col("v") === col("__l"), "left_anti")
          .distinct())
      (nxt, true)
    }

    // PHASE 1 (round 14): peel/contract to exhaustion BEFORE any star
    // round. Star rounds transiently DENSIFY sparse regions (a 200k
    // pure chain grows to 5.2M active rows mid-loop — measured, see
    // OPTIMIZATION_r14.md), after which deg≤2 nodes are rare; peeling
    // the sparse graph first collapses chains geometrically and strips
    // pendant fringes without ever paying that blow-up. Every pass is
    // node-sized aggregation + edge-keyed anti-joins over a shrinking
    // set; an unproductive pass exits (a dense core is star work).
    val peelCap = spark.conf.get("spark.graft.cc.peelPasses", "64").toInt
    var n = active.limit(1).count()
    var peels = 0
    var productive = n > 0
    while (productive && peels < peelCap) {
      val (nxt, anyRemoved) = peelContract(active)
      if (!anyRemoved) productive = false
      else {
        active = nxt
        n = active.count()
        sizes += n
        peels += 1
        productive = n > 0
      }
    }

    // PHASE 2: the alternating-star loop on whatever the peel could not
    // drain (dense cores), with the same peel/contract applied after
    // each double-star round (post-star graphs are mostly deg>2, so it
    // usually no-ops, but it retires finished stars the round they
    // appear — the r13 parking behavior falls out as a special case).
    var iter = 0
    while (n > 0 && iter < maxIter) {
      val next = graft.Iterate.ckpt(
        star(star(active, large = true), large = false))
      active = peelContract(next)._1
      n = active.count()
      sizes += n
      iter += 1
    }

    // flatten the pending pointer forest by pointer jumping to a
    // fixpoint: pointers strictly decrease in node value (acyclic) and
    // chains are at most a couple of hops per round, so after k passes
    // every pointer has crossed 2^k original hops — the probe reaches
    // "no parent is itself pending" in O(log depth) node-sized
    // self-joins.
    var resolved = graft.Iterate.ckpt(pending)
    var jumping = resolved.limit(1).count() > 0
    while (jumping) {
      val p2 = resolved.select(col("node").as("__pn"), col("parent").as("__pp"))
      val nxt = graft.Iterate.ckpt(
        resolved.join(p2, resolved("parent") === col("__pn"), "left")
          .select(resolved("node"),
            coalesce(col("__pp"), resolved("parent")).as("parent"),
            col("__pp").isNotNull.as("__chg")))
      jumping = nxt.filter(col("__chg")).limit(1).count() > 0
      resolved = nxt.drop("__chg")
    }

    // maxIter fall-back label extraction for whatever is still active
    // (converged runs have an empty `active` and this contributes
    // nothing). Peeled pointers resolve through it: a terminal parent
    // still active at exhaustion takes the residual label; a terminal
    // parent whose edges all peeled away IS its component's minimum
    // (isolation proves its remaining component was exactly itself plus
    // its peeled leaves) and labels itself.
    val residual = graft.Iterate.ckpt(
      active.groupBy(col("u").as("node")).agg(min("v").as("__mv"))
        .select(col("node"), least(col("node"), col("__mv")).as("cluster_id")))
    val fromPending = resolved
      .join(residual.select(col("node").as("__rn"), col("cluster_id")),
        col("parent") === col("__rn"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("parent")).as("cluster_id"))
    val lbl = residual.union(fromPending)
    val out = nodes.join(lbl, Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("cluster_id"), col("node")))
          .as("cluster_id"))
    (out, peels + iter, sizes.toSeq)
  }
}
