package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Forty-fifth wave — map-typed columns, RAG chunking, BFS distances,
  * survey sampling:
  *
  *  - q305: MapType column surface (map_from_entries → map_filter →
  *    transform_values → explode) — the per-document feature-bag shape;
  *    results are exploded back to rows so the map machinery itself is
  *    oracle-checked.
  *  - q306: fixed-size overlapping token chunking (the RAG/embedding
  *    pre-pass: stride windows with tail chunks), one generator explode
  *    per document — no shuffle until the (bounded) output.
  *  - q307: multi-source BFS hop distances over the co-purchase graph,
  *    4 frontier rounds of keyed min-agg (localCheckpoint'd like q245's
  *    peel loop); the oracle replays as a depth-bounded recursive CTE.
  *  - q308: systematic probability-proportional-to-size sampling over
  *    the revenue-weighted part dictionary — the classic survey design,
  *    exact integers, deterministic, no randomness.
  */
object Training45 {
  /** q307's BFS loop, shared by the QueryDef and the converged-early
    * spec: an [[graft.Iterate.deltaFixpoint]] capped at the oracle's 4
    * frontier rounds. DELTA-FRONTIER rounds (round-11 verdict item 1):
    * the old fixpoint joined the edge list against ALL settled nodes
    * every round — a set that grows to the whole graph — where BFS only
    * ever expands from the nodes settled LAST round (unit-weight hop
    * distance is monotone: a settled node can never improve, so edges
    * out of older frontiers relax nothing). Each round now joins only
    * the last frontier's neighborhood; the state merge is a node-table
    * join against a frontier-neighborhood-sized (broadcast) side. Exits
    * as soon as a frontier is empty — converged rounds are no-ops, so
    * the depth-4 recursive-CTE oracle stays bit-identical (the
    * co-purchase graph's effective diameter from the %1000 sources is
    * 2-3 at harness scale). Returns (result, rounds, frontierSizes).
    */
  private[graft] def bfsDistance(
      s: SparkSession, d: String,
      earlyExit: Boolean = true): (DataFrame, Int, Seq[Long]) = {
    val e = graft.operators.Graphs.coPurchaseEdges(Tables(s, d, "lineitem"))
    val und = graft.operators.Graphs.doubled(e)
      .localCheckpoint() // every BFS round joins it
    val nodes = und.select(col("u").as("node")).distinct()
      .localCheckpoint(true)
    val init = nodes.withColumn("dist",
      when(pmod(col("node"), lit(1000)) === 0, 0).otherwise(lit(null)))
    val (dist, rounds, sizes) = graft.Iterate.deltaFixpoint(
      init, init.filter(col("dist").isNotNull), maxRounds = 4,
      flagCol = "__new", earlyExit = earlyExit) { (cur, frontier) =>
      // candidate dists reach ONLY the frontier's out-neighborhood
      val nxt = und
        .join(frontier.withColumnRenamed("node", "u"), "u")
        .groupBy(col("v").as("node"))
        .agg((min("dist") + 1).as("nd"))
      // merge: settled nodes keep their dist (monotone — nd can never
      // beat it); the newly reached become the next frontier
      cur.join(nxt, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("dist"), col("nd")).as("dist"),
          (col("dist").isNull && col("nd").isNotNull).as("__new"))
    }
    val out = dist.groupBy(coalesce(col("dist"), lit(-1)).as("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("dist")
    (out, rounds, sizes)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- MapType operations: per-document word-count MAP built with
    // map_from_entries over a rank-ordered entry list (deterministic
    // construction), filtered to counts ≥ 2 (map_filter), values
    // doubled (transform_values), then exploded back to rows. The map
    // column is the feature-bag data model (sparse per-row features at
    // 100 TB); everything here is per-row map work after one keyed
    // count — the explode output is what the oracle pins, so a broken
    // map op surfaces as a hash fail.
    QueryDef(
      "q305_map_type_ops",
      (s, d) => {
        val wc = Tables(s, d, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
        wc.groupBy("doc_id")
          .agg(map_from_entries(sort_array(collect_list(struct(col("word"), col("cnt")))))
            .as("wmap"))
          .withColumn("wmap2",
            expr("transform_values(map_filter(wmap, (k, v) -> v >= 2), (k, v) -> v * 2)"))
          .select(col("doc_id"), explode(col("wmap2")).as(Seq("word", "doubled_cnt")))
          .orderBy("doc_id", "word")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 50),
        wc AS (
          SELECT doc_id, word, count(*) AS cnt
          FROM w WHERE word <> '' GROUP BY 1, 2)
        SELECT doc_id, word, CAST(cnt * 2 AS BIGINT) AS doubled_cnt
        FROM wc WHERE cnt >= 2 ORDER BY doc_id, word""")),

    // ---- RAG chunking: overlapping token windows (size 40, stride 30
    // ⇒ 10-token overlap), one `sequence`-generator explode per doc —
    // chunk starts are 0, 30, 60, … < n, the tail chunk is short. Per
    // chunk: offsets + boundary tokens (the retrieval-index key
    // material). Pure per-row generate → the 100 TB shape (chunk mass
    // ∝ token mass, no shuffle before the bounded output); the
    // downstream embedding/index steps are q49/q296's.
    QueryDef(
      "q306_rag_chunking",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), w -> w <> '')").as("toks"))
          .withColumn("n", size(col("toks")))
          .filter(col("n") >= 1)
        docs
          .select(col("doc_id"), col("toks"), col("n"),
            explode(expr("sequence(0, n - 1, 30)")).as("start"))
          .select(col("doc_id"), col("start"),
            expr("least(40, n - start)").as("chunk_len"),
            expr("start div 30").as("chunk_idx"),
            expr("element_at(toks, start + 1)").as("first_token"),
            expr("element_at(toks, start + least(40, n - start))").as("last_token"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS toks
          FROM documents),
        sized AS (
          SELECT doc_id, toks, len(toks) AS n FROM docs WHERE len(toks) >= 1),
        chunks AS (
          SELECT doc_id, toks, n, unnest(range(0, n, 30)) AS start
          FROM sized)
        SELECT doc_id, CAST(start AS BIGINT) AS start,
               CAST(least(40, n - start) AS INTEGER) AS chunk_len,
               CAST(start // 30 AS BIGINT) AS chunk_idx,
               toks[CAST(start + 1 AS INTEGER)] AS first_token,
               toks[CAST(start + least(40, n - start) AS INTEGER)] AS last_token
        FROM chunks ORDER BY doc_id, chunk_idx""")),

    // ---- multi-source BFS hop distance over the co-purchase graph:
    // sources are p_partkey % 1000 = 0; 4 rounds of frontier expansion,
    // each ONE keyed min-agg + one equi-join on the (localCheckpoint'd)
    // edge list — the q245 peel-loop discipline, never a path explode.
    // Output is the hop histogram (dist → node count, ≤ 5 rows + the
    // unreached count), deterministic because hop distance is a min.
    // The oracle replays as a depth-bounded recursive CTE whose state
    // is (node, dist) SETS (UNION dedup), not paths.
    QueryDef(
      "q307_bfs_distance",
      (s, d) => bfsDistance(s, d)._1,
      Some("""
        WITH RECURSIVE op AS (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e AS (
          SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        und AS (
          SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        nodes AS (SELECT DISTINCT u AS node FROM und),
        walk(node, dist) AS (
          SELECT node, 0 FROM nodes WHERE node % 1000 = 0
          UNION
          SELECT und.v, walk.dist + 1
          FROM walk JOIN und ON und.u = walk.node
          WHERE walk.dist < 4),
        best AS (
          SELECT node, min(dist) AS dist FROM walk GROUP BY 1)
        SELECT coalesce(best.dist, -1) AS dist,
               count(*) AS n_nodes
        FROM nodes LEFT JOIN best ON nodes.node = best.node
        GROUP BY 1 ORDER BY dist""")),

    // ---- systematic PPS (probability-proportional-to-size) sampling:
    // parts weighted by exact revenue cents, cumulated in p_partkey
    // order over the PART DICTIONARY (the only window in the plan —
    // dictionary-sized at any corpus scale, the q292 discipline), then
    // every crossing of a step = total/64 boundary selects a part.
    // Inclusion probability is exactly proportional to weight, zero
    // randomness (the fixed-origin variant of Madow systematic
    // sampling) — the deterministic counterpart of weighted reservoir
    // sampling for dashboard-reproducible samples.
    QueryDef(
      "q308_pps_systematic_sample",
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
            .as("w_cents"))
          .localCheckpoint(true) // total scalar + prefix pass share one scan
        val tot = rev.agg(sum("w_cents").as("total"))
        // two-phase prefix sum, not a global window: the cumulative
        // weight runs over the PART dimension (data-sized at 100 TB)
        graft.operators.ScalableRank
          .withPrefixSum(rev, Seq(col("pk")), col("w_cents"), "cum")
          .crossJoin(broadcast(tot))
          .withColumn("step", greatest(expr("total div 64"), lit(1L)))
          .filter(expr("cum div step > (cum - w_cents) div step"))
          .select(col("pk"), col("w_cents"), col("cum"),
            expr("cum div step").as("boundary"))
          .orderBy("pk")
      },
      Some("""
        WITH rev AS (
          SELECT l_partkey AS pk,
                 CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS w_cents
          FROM lineitem GROUP BY 1),
        c AS (
          SELECT pk, w_cents,
                 CAST(sum(w_cents) OVER (ORDER BY pk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 greatest(CAST(sum(w_cents) OVER () AS BIGINT) // 64, 1) AS step
          FROM rev)
        SELECT pk, w_cents, cum, CAST(cum // step AS BIGINT) AS boundary
        FROM c
        WHERE cum // step > (cum - w_cents) // step
        ORDER BY pk""")),
  )
}
