package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared graph machinery for the co-purchase family (q143/q165/q223/
  * q245/q261/q307/q339 all analyze the parts-sharing-an-order graph) —
  * ONE edge-list definition plus the SCALE-DISPATCHED triangle/k-core
  * defaults (the `LinkPrediction.topK` pattern: measure the exact
  * algorithm's resource with an aggregation the query needs anyway, then
  * route exact vs a deterministic sampled estimator).
  *
  * The estimator is DOULION-shaped (Tsourakakis et al., KDD'09: count
  * triangles on an edge-sampled graph, rescale by the inverse sampling
  * probability cubed) but with DETERMINISTIC hash selection instead of
  * coin flips: an edge survives iff hash60(u ':' v) % p == 0. That keeps
  * the whole estimate a pure function of the data — reproducible across
  * runs, engines, and partitionings — which is what lets the sampled
  * branch be declared and HASH-oracled (DuckDB runs the identical
  * selection), not just contract-gated.
  *
  * Scale shape of the sampled branch: the sample pass is one codegen'd
  * per-row predicate (no shuffle); every downstream join/agg then runs on
  * m/p edges and ~mass/p² wedges — the knob that keeps the wedge-bound
  * family alive at 100 TB where exact enumeration's Σ deg² work is the
  * query. Estimator error is O(√(p³/T)) relative on T triangles — at the
  * harness graph (T ≈ 4·10⁵, p = 4) under 1%.
  */
object Graphs {

  /** Default keep-1-in-p for the sampled branches (p = 4: 16× less wedge
    * mass, <1% triangle error at harness scale; overridable via conf
    * `spark.graft.graph.sampleMod`).
    */
  val defaultSampleMod: Int = 4

  /** Doubled-edge-count ceiling for the exact k-core peel (measured:
    * 24M doubled edges peel in ~51 s single-box at 10× harness scale —
    * safe but the slowest roster entry there; 10⁷ routes that regime to
    * the sampled peel while every harness-scale correctness run stays
    * exact). Overridable via conf `spark.graft.graph.kcoreEdgeLimit`.
    */
  val defaultKcoreEdgeLimit: Long = 10000000L

  /** Oriented (u < v), distinct co-purchase edges: parts that share an
    * order. Checkpointed — every caller fans out over it (degree aggs,
    * wedge joins, peel rounds), and the co-occurrence stage is the
    * expensive floor under the whole graph family, so its shuffle count
    * matters: ONE groupBy(order) collects each order's distinct part
    * set (collect_set — per-order sets are small: order fan-in, not
    * corpus size), pairs come from a posexplode + sorted-slice explode
    * (two Generate operators; i < j over the sorted set ⇒ u < v by
    * construction — measured faster than both the nested-lambda
    * comprehension and the old self-join), and one distinct dedups
    * across orders. Two shuffles total — the former distinct(o,p) →
    * self-join(o) → distinct(u,v) plan paid three exchanges plus the
    * join build for the identical output.
    *
    * `Iterate.ckpt`, NOT a bare localCheckpoint: localCheckpoint
    * preserves the ORIGIN plan's size estimate on the LogicalRDD, and
    * the groupBy+explode origin estimates small where the old
    * join-of-distincts estimated huge — downstream wedge joins then
    * re-planned around a fictional broadcast-sized edge list and ran
    * ~70% slower (measured: triangle join 3.5 s vs 2.1 s over the SAME
    * materialized rows). The fresh-leaf default stats + AQE runtime
    * sizes restore the intended shuffle-join plans.
    *
    * Honest caveat: a pathological order touching millions of parts
    * would make one row's set huge; order fan-in is bounded in every
    * real purchase ledger (≤7 in TPC-H), and the pair mass Σ|parts|²
    * is the same in either plan.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    graft.Iterate.ckpt(
      lineitem
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy("o").agg(expr("array_sort(collect_set(p))").as("ps"))
        .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
        .select(col("u"),
          explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))
        .distinct())

  /** DuckDB CTE fragment building the same edge list (`op`, `e`) — the
    * oracle-side twin of [[coPurchaseEdges]], kept next to it so the two
    * dialects cannot drift.
    */
  val coPurchaseEdgesDuck: String =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |        e AS (
      |          SELECT DISTINCT a.p AS u, b.p AS v
      |          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)""".stripMargin

  /** Both directions of an oriented edge list (the adjacency view the
    * degree/peel/BFS passes read).
    */
  def doubled(e: DataFrame): DataFrame =
    e.select("u", "v").unionAll(e.select(col("v").as("u"), col("u").as("v")))

  /** Deterministic 1-in-p edge sample: keep iff hash60(u ':' v) % p == 0.
    * Pure per-row codegen predicate — the sample never shuffles.
    */
  def sampleEdges(e: DataFrame, p: Int): DataFrame =
    e.filter(expr(samplePredSpark(p)))

  def samplePredSpark(p: Int): String =
    s"${TextOps.hash60Spark("concat(cast(u as string), ':', cast(v as string))")} % $p = 0"

  /** DuckDB mirror of [[samplePredSpark]]. */
  def samplePredDuck(p: Int): String =
    s"${TextOps.hash60Duck("CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} % $p = 0"

  /** Exact oriented triangle count — q143's plan: each triangle is ONE
    * (a→b, b→c, a→c) row under the u<v orientation, two equi-joins, and
    * the closing join is SHUFFLE_HASH-hinted so the wedge stream (the
    * Σ deg² mass) is hash-probed against the edge list, never sorted.
    *
    * Bloom pre-filter on the closing join (round 13, guide §3.2):
    * triangles << wedges — at sf0.1 the wedge stream is 49.3M rows
    * against a 1.2M-row edge list, and all but the closing ~0.5% of it
    * was shuffled into the closing join only to find no match. A
    * broadcast Bloom filter over xxhash64(u,v) of the edge list
    * (~1.4 MB at fpp 1% for 1.2M edges) drops definitely-non-closing
    * wedges BEFORE the exchange. No false negatives ⇒ the count is
    * IDENTICAL (false positives only cost a little residual shuffle),
    * and the filter bitset is an order-independent OR-merge, so the
    * result stays deterministic under any task order. Measured at
    * sf0.1: closing join 2.05–2.99 s → bloom build 0.57 s + filtered
    * join 1.08–1.36 s, counts equal.
    *
    * Scale gate: past `spark.graft.graph.triangleBloomMaxEdges`
    * (default 10⁸ ≈ 115 MB of filter at 1% — broadcastable; billions
    * of edges would not be) the pre-filter is skipped and the plan is
    * the unfiltered r12 form. `knownEdgeCount` lets callers that
    * already counted the edge list (triangleStats) avoid a second
    * count job; pass a NON-NEGATIVE count only for the exact frame
    * being joined.
    */
  def exactTriangleCount(e: DataFrame, knownEdgeCount: Long = -1L): Long = {
    val nEdges = if (knownEdgeCount >= 0) knownEdgeCount else e.count()
    val bp = closingBloomPred(e, nEdges, col("u"), col("v"),
      col("e1.u"), col("e2.v"))
    val n = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .filter(bp.pred)
      .join(e.as("e3").hint("SHUFFLE_HASH"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .count()
    bp.release()
    n
  }

  /** A closing-join pre-filter predicate plus its broadcast-release
    * handle: callers invoke `release()` after the terminal action so
    * each query execution frees its filter instead of leaving it to
    * the GC-driven ContextCleaner (a bench rep would otherwise leak up
    * to ~115 MB per execution at the 10⁸-edge gate).
    */
  final case class BloomPred(pred: org.apache.spark.sql.Column,
      release: () => Unit)

  /** Shared closing-join Bloom pre-filter (see [[exactTriangleCount]]):
    * a broadcast Bloom over xxhash64(ku, kv) of `edges`, returned as a
    * predicate on the probe stream's (pu, pv). `lit(true)` (the
    * unfiltered r12 plan) when the edge list is empty or larger than
    * `spark.graft.graph.triangleBloomMaxEdges` — a multi-billion-edge
    * filter would not broadcast. No false negatives, order-independent
    * bitset merge: the downstream equi-join's result is identical and
    * deterministic either way.
    */
  def closingBloomPred(
      edges: DataFrame, nEdges: Long,
      ku: org.apache.spark.sql.Column, kv: org.apache.spark.sql.Column,
      pu: org.apache.spark.sql.Column, pv: org.apache.spark.sql.Column)
      : BloomPred = {
    val s = edges.sparkSession
    val bloomMax = s.conf.get(
      "spark.graft.graph.triangleBloomMaxEdges", "100000000").toLong
    if (nEdges > 0 && nEdges <= bloomMax) {
      val bf = edges.stat.bloomFilter(xxhash64(ku, kv), nEdges, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      // compiled probe (round 14, guide §4): the round-13 form was a
      // ScalaUDF in the wedge join's condition — boxing + the UDF
      // bridge on the query's hottest stream; BloomMightContain is the
      // same probe as a codegen'd Catalyst expression
      BloomPred(
        graft.functions.BloomMightContain.column(bfB, xxhash64(pu, pv)),
        () => { bfB.destroy(); () })
    } else BloomPred(lit(true), () => ())
  }

  /** Wedge mass Σ deg(n)² of the doubled graph — the exact enumeration's
    * resource, measured with one keyed agg + one scalar agg.
    */
  def wedgeMass(e: DataFrame): Long = {
    val deg = doubled(e).groupBy("u").agg(count(lit(1)).as("dg"))
    Option(deg.agg(sum(col("dg") * col("dg"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Triangle census (n_nodes, n_edges, n_triangles) with a
    * SCALE-DISPATCHED count: n_nodes/n_edges are always exact (linear
    * passes), and the measured wedge mass routes n_triangles:
    *
    *  - mass ≤ `spark.graft.graph.wedgeMassLimit` (default 5·10⁸, the
    *    `LinkPrediction` ceiling) → [[exactTriangleCount]];
    *  - above → DOULION on the deterministic 1-in-p sample: exact count
    *    on the sampled graph × p³ (each triangle survives with p⁻³).
    *    Semantics in this regime: an unbiased deterministic estimate
    *    (relative error ~√(p³/T)), the standard trade that keeps the
    *    wedge-bound count alive on a dense 100 TB graph.
    */
  def triangleStats(e: DataFrame, wedgeMassLimit: Long = -1L,
      sampleMod: Int = -1): DataFrame = {
    val s = e.sparkSession
    val limit =
      if (wedgeMassLimit >= 0) wedgeMassLimit
      else s.conf.get("spark.graft.graph.wedgeMassLimit",
        LinkPrediction.defaultWedgeMassLimit.toString).toLong
    val p =
      if (sampleMod > 0) sampleMod
      else s.conf.get("spark.graft.graph.sampleMod",
        defaultSampleMod.toString).toInt
    // Fused census pass (round 14, guide §2.4): n_nodes, n_edges and
    // the wedge mass are all moments of ONE degree table — every node
    // appears as `u` in the doubled edge set, so count(deg) = |V|;
    // the input is a distinct u<v pair list with no self-loops, so
    // Σ deg = 2|E| exactly; Σ deg² is the wedge mass. One keyed agg +
    // one scalar agg replace the r13 census's three separate full-edge
    // passes (wedgeMass agg, e.count, union+distinct node count). The
    // edge count still reaches exactTriangleCount so the bloom
    // pre-filter sizes itself without its own count job.
    val deg = doubled(e).groupBy("u").agg(count(lit(1)).as("dg"))
    val census = deg.agg(
      count(lit(1)).as("n"),
      sum(col("dg")).as("sd"),
      sum(col("dg") * col("dg")).as("m")).first()
    val nodes = census.getLong(0)
    val edges = Option(census.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L) / 2
    val mass = Option(census.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val tri =
      if (mass <= limit) exactTriangleCount(e, knownEdgeCount = edges)
      else exactTriangleCount(sampleEdges(e, p).localCheckpoint()) *
        p.toLong * p * p
    import s.implicits._
    Seq((nodes, edges, tri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** k-core peel census (round, n_nodes, n_edges) over `rounds` rounds
    * with a SCALE-DISPATCHED graph: the doubled-edge count (the peel's
    * per-round work) routes
    *
    *  - ≤ `spark.graft.graph.kcoreEdgeLimit` (default 10⁷) → EXACT peel
    *    of the full graph at threshold `k` (the q245 oracle-truth form);
    *  - above → peel of the deterministic 1-in-p edge sample at
    *    threshold ⌈k/p⌉, edge counts rescaled ×p. Semantics in this
    *    regime: a degree-concentration estimate (sampled degrees are
    *    Binomial(deg, 1/p), so the k-core census is approximated by the
    *    ⌈k/p⌉-core of the sample — the p× work reduction that keeps the
    *    multi-round peel alive when the full edge list outgrows a box).
    *
    * DELTA-FRONTIER rounds (round-11 verdict item 1): the edge list is
    * checkpointed ONCE and never rewritten; the peel maintains only a
    * node-sized DEGREE-IN-THE-SURVIVING-GRAPH table, so each round is
    * driven by the REMOVED set (the frontier), not a full-graph
    * recompute:
    *
    *   removed = deg < k entries — one filter over the node-sized
    *             degree table (the old plan's full-edge groupBy is
    *             gone);
    *   dec     = STATIC edges with v removed this round, grouped by u
    *             — one broadcast-semi-join scan of the fixed edge list
    *             whose aggregated mass is the frontier's neighborhood
    *             (edges into previously-removed v's were already
    *             subtracted the round their v fell; u's outside the
    *             live degree table drop out of the merge below);
    *   deg'    = (deg ∖ removed) − dec, dropping newly isolated
    *             nodes — node-sized, broadcast-joined, the ONLY frame
    *             written per round.
    *
    * The old plan shuffled and REWROTE the full edge list through two
    * hash joins every round; this one's per-round cost is a shuffle-
    * free scan of the static edge list plus a node-table merge. The
    * census comes free from the degree invariant (n_nodes = live rows,
    * doubled edges = Σ deg — bit-identical to the old distinct/count
    * probes). After round one `removed` is frontier-sized, so every
    * join broadcasts — the shape a 100 TB peel needs: a
    * late-converging component drags only its own neighborhood.
    */
  def kcoreRounds(e: DataFrame, k: Int, rounds: Int,
      edgeLimit: Long = -1L, sampleMod: Int = -1): DataFrame =
    kcoreRoundsCounted(e, k, rounds, edgeLimit, sampleMod)._1

  /** As kcoreRounds, but also returns how many peel rounds actually
    * executed (a convergence-probe round counts — it runs the
    * removed-set filter) and the per-round removed-frontier sizes —
    * the early-exit + delta observability hooks GraphsKcoreSpec and
    * DeltaFrontierSpec pin.
    */
  private[graft] def kcoreRoundsCounted(e: DataFrame, k: Int, rounds: Int,
      edgeLimit: Long = -1L, sampleMod: Int = -1): (DataFrame, Int, Seq[Long]) = {
    val s = e.sparkSession
    val limit =
      if (edgeLimit >= 0) edgeLimit
      else s.conf.get("spark.graft.graph.kcoreEdgeLimit",
        defaultKcoreEdgeLimit.toString).toLong
    val p =
      if (sampleMod > 0) sampleMod
      else s.conf.get("spark.graft.graph.sampleMod",
        defaultSampleMod.toString).toInt
    // the dispatch probe is one count over the (checkpointed) oriented
    // edge list the query builds anyway
    val m = 2L * e.count()
    val (und, kk, scale) =
      if (m <= limit) (doubled(e).localCheckpoint(true), k, 1L)
      else (doubled(sampleEdges(e, p)).localCheckpoint(true),
        (k + p - 1) / p, p.toLong)
    // node-sized degree table; invariant: deg holds EXACTLY the
    // surviving nodes with ≥1 edge to another survivor, dg = that
    // degree. `und` stays the STATIC round-0 graph — only deg evolves.
    var deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    def degCounts(): (Long, Long) = {
      val row = deg.agg(count(lit(1)).as("n"),
        coalesce(sum("dg"), lit(0L)).as("s")).first()
      (row.getLong(0), row.getLong(1))
    }
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var (nodes, edges) = degCounts()
    out += ((0, nodes, edges / 2 * scale))
    val frontierSizes = scala.collection.mutable.ArrayBuffer[Long]()
    var r = 1
    var executed = 0
    while (r <= rounds && out.size == r) {
      executed += 1
      // lazy view over the checkpointed deg — each use is a local scan
      val removed = deg.filter(col("dg") < kk).select("u")
      val nRemoved = removed.count()
      frontierSizes += nRemoved
      if (nRemoved == 0) {
        // fixpoint: nothing below threshold — every later round is a
        // no-op; emit the remaining fixed rows without any join work
        // (output-invariant w.r.t. the fixed-round oracle unroll)
        for (rr <- r to rounds) out += ((rr, nodes, edges / 2 * scale))
      } else {
        // degree decrements from the STATIC edge list: edges whose v
        // fell THIS round (v was live until now, so each such edge is
        // subtracted exactly once across the peel); rows whose u is
        // already dead vanish in the deg-side merge join below
        val dec = und
          .join(removed.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .groupBy("u").agg(count(lit(1)).as("__dec"))
        deg = deg
          .join(removed, Seq("u"), "left_anti")
          .join(dec, Seq("u"), "left")
          .select(col("u"),
            (col("dg") - coalesce(col("__dec"), lit(0L))).as("dg"))
          .filter(col("dg") > 0) // newly isolated: no surviving edge
          .localCheckpoint(true)
        val (n2, e2) = degCounts()
        out += ((r, n2, e2 / 2 * scale))
        nodes = n2
        edges = e2
      }
      r += 1
    }
    import s.implicits._
    (out.toSeq.toDF("round", "n_nodes", "n_edges"), executed,
      frontierSizes.toSeq)
  }
}
