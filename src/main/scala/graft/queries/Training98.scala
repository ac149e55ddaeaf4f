package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninety-eighth wave — social choice, voting power, and project
  * scheduling:
  *
  *  - q456: Condorcet vs Borda over preference profiles — each market
  *    segment (voter) ranks the order priorities (candidates) by
  *    integer average order value; the pairwise-majority matrix,
  *    Borda scores, the Condorcet winner when one exists, and
  *    whether Borda agrees. THE social-choice comparison (a Borda
  *    winner always exists; a Condorcet winner need not — and they
  *    can disagree).
  *  - q457: Banzhaf voting-power index — segments as weighted parties
  *    (weight = customer count), all 32 coalitions enumerated
  *    relationally (the q444 bitmask-lattice trick), a party counted
  *    per coalition it SWINGS (coalition meets quota, drops below
  *    without it). Voting power ≠ weight share — the output shows
  *    both in ppm.
  *  - q458: PERT / critical-path method over a synthetic 4-ary
  *    assembly DAG on parts (preds k div 4 and k div 4 + 1,
  *    duration = p_size): forward max-relaxation gives early
  *    start/finish, a backward pass from the project end gives late
  *    start and total float; float-0 tasks form the critical path.
  *    Both passes run ≤12 rounds of keyed joins (enough for 4^12
  *    tasks) — the Bellman-style max-plus relaxation (q388's shape)
  *    with per-round checkpoints, early exit on convergence, and a
  *    task-count dispatch between full-frame and delta-frontier round
  *    forms (see pertPasses); the oracle replays all 24 rounds as
  *    chained MATERIALIZED CTEs.
  */
object Training98 {
  private def condorcetSql(spark: Boolean, ordersRel: String, custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      WITH prefs AS (
        SELECT c.c_mktsegment AS voter, o.o_orderpriority AS cand,
               CAST((sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) * 1000000)
                 $idiv count(*) AS BIGINT) AS avg_micro
        FROM $ordersRel o JOIN $custRel c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      ranks AS (
        SELECT voter, cand,
               row_number() OVER (PARTITION BY voter
                 ORDER BY avg_micro DESC, cand) AS rk
        FROM prefs),
      nvoters AS (SELECT CAST(count(DISTINCT voter) AS BIGINT) AS nv FROM ranks),
      pair_wins AS (
        SELECT a.cand AS x, b.cand AS y,
               CAST(SUM(CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END) AS BIGINT) AS wins
        FROM ranks a JOIN ranks b
          ON a.voter = b.voter AND a.cand <> b.cand
        GROUP BY 1, 2),
      majority AS (
        SELECT x, CAST(SUM(CASE WHEN 2 * wins > (SELECT max(nv) FROM nvoters)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_beats
        FROM pair_wins GROUP BY x),
      borda AS (
        SELECT cand, CAST(sum(6 - rk) AS BIGINT) AS borda_score
        FROM ranks GROUP BY cand),
      ncands AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM borda),
      winners AS (
        SELECT b.cand, b.borda_score, m.n_beats,
               CASE WHEN m.n_beats = (SELECT max(nc) FROM ncands) - 1
                    THEN 1 ELSE 0 END AS is_condorcet_winner,
               CASE WHEN row_number() OVER (ORDER BY b.borda_score DESC, b.cand) = 1
                    THEN 1 ELSE 0 END AS is_borda_winner
        FROM borda b JOIN majority m ON m.x = b.cand)
      SELECT cand, borda_score, n_beats,
             CAST(is_condorcet_winner AS INT) AS is_condorcet_winner,
             CAST(is_borda_winner AS INT) AS is_borda_winner
      FROM winners ORDER BY cand"""
  }

  private def banzhafSql(spark: Boolean, custRel: String): String = {
    val idiv = if (spark) "div" else "//"
    val masks = if (spark) "SELECT explode(sequence(0, 31)) AS mask"
      else "SELECT t.mask FROM range(32) t(mask)"
    s"""
      WITH parties AS (
        SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS w,
               CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS bit
        FROM $custRel GROUP BY 1),
      quota AS (SELECT (sum(w) $idiv 2) + 1 AS q, sum(w) AS tw FROM parties),
      coal AS (
        SELECT m.mask, CAST(coalesce(sum(p.w), 0) AS BIGINT) AS cw
        FROM ($masks) m
        LEFT JOIN parties p ON (m.mask $idiv (CASE p.bit WHEN 0 THEN 1
          WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END)) % 2 = 1
        GROUP BY m.mask),
      swings AS (
        SELECT p.seg, p.w,
               CAST(SUM(CASE WHEN c.cw >= q.q AND c.cw - p.w < q.q
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_swings
        FROM parties p
        JOIN coal c ON (c.mask $idiv (CASE p.bit WHEN 0 THEN 1
          WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END)) % 2 = 1
        CROSS JOIN quota q
        GROUP BY p.seg, p.w),
      tot AS (SELECT CAST(sum(n_swings) AS BIGINT) AS ts FROM swings)
      SELECT s.seg, s.w AS weight,
             CAST((s.w * 1000000) $idiv q.tw AS BIGINT) AS weight_share_ppm,
             s.n_swings,
             CAST((s.n_swings * 1000000) $idiv t.ts AS BIGINT) AS banzhaf_ppm
      FROM swings s CROSS JOIN tot t CROSS JOIN quota q
      ORDER BY s.seg"""
  }

  /** q458 task/edge base: tasks from the part dictionary with preds
    * k div 4 and k div 4 + 1 (both < k for k ≥ 2; k = 1 is the root).
    */
  private def pertBaseSql(spark: Boolean, partRel: String): String = {
    val idiv = if (spark) "div" else "//"
    s"""
      SELECT p.p_partkey AS k, CAST(p.p_size AS BIGINT) AS dur,
             CASE WHEN p.p_partkey $idiv 4 >= 1
                  THEN p.p_partkey $idiv 4 ELSE NULL END AS pred1,
             CASE WHEN p.p_partkey $idiv 4 + 1 < p.p_partkey
                   AND p.p_partkey $idiv 4 + 1
                       <= (SELECT max(p2.p_partkey) FROM $partRel p2)
                  THEN p.p_partkey $idiv 4 + 1 ELSE NULL END AS pred2
      FROM $partRel p"""
  }

  /** q458's two relaxation passes, shared by the QueryDef and the
    * dispatch-equality/converged-early specs. Each pass runs ≤12
    * max/min-relax rounds (the oracle replays all 12 as CTEs) in one of
    * two SCALE-DISPATCHED forms, keyed on the task count (conf
    * `spark.graft.pert.deltaTaskLimit`, default 65536 — the same knob
    * as the partition shaping, measured at sf0.1):
    *
    *  - ≤ limit: FULL-FRAME rounds on a coalesce(1) frame via
    *    [[graft.Iterate.fixpoint]] — each round is ONE single-task
    *    3-way join+agg job. At dictionary scale the round frames are
    *    tens of thousands of rows and wall is job launches, not rows:
    *    measured 7.6 s vs the delta form's 9.7 s at sf0.1.
    *  - > limit: DELTA-FRONTIER rounds (round-11 verdict item 1) via
    *    [[graft.Iterate.deltaFixpoint]] — cand = successors of the
    *    changed set, their new value reads ALL their preds' CURRENT
    *    values (cur is complete), so each round is bit-identical to
    *    the Jacobi unroll while touching only the frontier's
    *    out-edges plus one state merge: measured 17.8 s vs the
    *    full-frame form's 19.9 s at the 10x leg (2.2M tasks), ratio
    *    2.6 → 1.8, and the gap widens with scale — at 100 TB the
    *    full-frame form re-relaxes billions of settled tasks per
    *    round. Honest caveat the measurement exposed: THIS 4-ary DAG
    *    is delta-hostile (3/4 of tasks sit at maximum depth, so the
    *    frontier stays near-full for most rounds) — the dispatch
    *    threshold is what makes delta a win everywhere it runs.
    *
    * Returns (result, forwardRounds, backwardRounds).
    */
  private[graft] def pertPasses(
      s: SparkSession, d: String,
      earlyExit: Boolean = true): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions._
    Tables(s, d, "part").createOrReplaceTempView("graft_pp_part")
    val tasks0 = graft.Iterate.ckpt(
      s.sql(pertBaseSql(spark = true, "graft_pp_part")))
    // single-partition shaping is a SMALL-scale optimization (skips
    // the shuffles on dictionary-sized rounds); past the limit the
    // relaxation rounds want real parallelism — dispatch on the task
    // count (bounded: one long over the already-checkpointed frame).
    val nTasks = tasks0.count()
    val deltaLimit = s.conf
      .get("spark.graft.pert.deltaTaskLimit", "65536").toLong
    val useDelta = nTasks > deltaLimit
    def shape(df: DataFrame): DataFrame =
      df.coalesce(if (!useDelta) 1 else 8)
    val tasks = shape(tasks0)
    tasks.createOrReplaceTempView("graft_pp_tasks")
    // edges (pred -> k), doubled from the two pred columns
    val edges = graft.Iterate.ckpt(shape(s.sql("""
      SELECT pred1 AS src, k AS dst FROM graft_pp_tasks WHERE pred1 IS NOT NULL
      UNION ALL
      SELECT pred2 AS src, k AS dst FROM graft_pp_tasks WHERE pred2 IS NOT NULL""")))
    edges.createOrReplaceTempView("graft_pp_edges")
    // forward pass: es(k) = max over preds ef(pred)
    val esInit = shape(s.sql(
      "SELECT k, dur, CAST(0 AS BIGINT) AS es FROM graft_pp_tasks"))
    val (es, fwdRounds) =
      if (!useDelta) graft.Iterate.fixpoint(
        esInit, maxRounds = 12, key = Seq("k"), watch = Seq("es"),
        earlyExit = earlyExit) { cur =>
        cur.createOrReplaceTempView("graft_pp_es")
        shape(s.sql("""
          SELECT t.k, t.dur,
                 CAST(greatest(t.es, coalesce(max(p.es + p.dur), 0)) AS BIGINT) AS es
          FROM graft_pp_es t
          LEFT JOIN graft_pp_edges e ON e.dst = t.k
          LEFT JOIN graft_pp_es p ON p.k = e.src
          GROUP BY t.k, t.dur, t.es"""))
      }
      else {
        val (r, n, _) = graft.Iterate.deltaFixpoint(
          esInit, esInit, maxRounds = 12, earlyExit = earlyExit) { (cur, frontier) =>
          val cand = edges
            .join(frontier.select(col("k").as("src")), Seq("src"), "left_semi")
            .select("dst").distinct()
          val upd = edges
            .join(cand, Seq("dst"), "left_semi")
            .join(cur.select(col("k").as("src"),
              (col("es") + col("dur")).as("pef")), Seq("src"))
            .groupBy(col("dst").as("k")).agg(max("pef").as("nes"))
          shape(cur.join(upd, Seq("k"), "left")
            .select(col("k"), col("dur"),
              greatest(col("es"), coalesce(col("nes"), col("es"))).as("es"),
              coalesce(col("nes") > col("es"), lit(false)).as("__delta_chg")))
        }
        (r, n)
      }
    es.createOrReplaceTempView("graft_pp_esf")
    // backward pass: lf(k) = min over succs (lf(succ) - dur(succ));
    // sinks start at the project end T = max(es + dur); the delta form
    // mirrors the forward pass with edges reversed and min for max
    val lfInit = shape(s.sql("""
        SELECT k, dur, CAST((SELECT max(es + dur) FROM graft_pp_esf) AS BIGINT) AS lf
        FROM graft_pp_esf"""))
    val (lf, bwdRounds) =
      if (!useDelta) graft.Iterate.fixpoint(
        lfInit, maxRounds = 12, key = Seq("k"), watch = Seq("lf"),
        earlyExit = earlyExit) { cur =>
        cur.createOrReplaceTempView("graft_pp_lf")
        shape(s.sql("""
          SELECT t.k, t.dur,
                 CAST(least(t.lf, coalesce(min(sc.lf - sc.dur), t.lf)) AS BIGINT) AS lf
          FROM graft_pp_lf t
          LEFT JOIN graft_pp_edges e ON e.src = t.k
          LEFT JOIN graft_pp_lf sc ON sc.k = e.dst
          GROUP BY t.k, t.dur, t.lf"""))
      }
      else {
        val (r, n, _) = graft.Iterate.deltaFixpoint(
          lfInit, lfInit, maxRounds = 12, earlyExit = earlyExit) { (cur, frontier) =>
          val cand = edges
            .join(frontier.select(col("k").as("dst")), Seq("dst"), "left_semi")
            .select("src").distinct()
          val upd = edges
            .join(cand, Seq("src"), "left_semi")
            .join(cur.select(col("k").as("dst"),
              (col("lf") - col("dur")).as("slf")), Seq("dst"))
            .groupBy(col("src").as("k")).agg(min("slf").as("nlf"))
          shape(cur.join(upd, Seq("k"), "left")
            .select(col("k"), col("dur"),
              least(col("lf"), coalesce(col("nlf"), col("lf"))).as("lf"),
              coalesce(col("nlf") < col("lf"), lit(false)).as("__delta_chg")))
        }
        (r, n)
      }
    lf.createOrReplaceTempView("graft_pp_lff")
    val out = s.sql("""
      SELECT f.k, f.dur, f.es, f.es + f.dur AS ef, b.lf,
             b.lf - f.dur - f.es AS slack,
             (SELECT max(es + dur) FROM graft_pp_esf) AS project_duration
      FROM graft_pp_esf f JOIN graft_pp_lff b ON b.k = f.k
      ORDER BY slack, es, k LIMIT 10""")
    (out, fwdRounds, bwdRounds)
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q456_condorcet_borda",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_cb_orders")
        Tables(s, d, "customer").createOrReplaceTempView("graft_cb_customer")
        s.sql(condorcetSql(spark = true, "graft_cb_orders", "graft_cb_customer"))
      },
      Some(condorcetSql(spark = false, "orders", "customer"))),

    QueryDef(
      "q457_banzhaf_power",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("graft_bz_customer")
        s.sql(banzhafSql(spark = true, "graft_bz_customer"))
      },
      Some(banzhafSql(spark = false, "customer"))),

    QueryDef(
      "q458_critical_path_pert",
      (s, d) => pertPasses(s, d)._1,
      Some {
        val base = pertBaseSql(spark = false, "part")
        val fwd = (1 to 12).map { r =>
          s"""es$r AS MATERIALIZED (
              SELECT t.k, t.dur,
                     CAST(greatest(t.es, coalesce(max(p.es + p.dur), 0)) AS BIGINT) AS es
              FROM es${r - 1} t
              LEFT JOIN edges e ON e.dst = t.k
              LEFT JOIN es${r - 1} p ON p.k = e.src
              GROUP BY t.k, t.dur, t.es)"""
        }.mkString(",\n")
        val bwd = (1 to 12).map { r =>
          s"""lf$r AS MATERIALIZED (
              SELECT t.k, t.dur,
                     CAST(least(t.lf, coalesce(min(sc.lf - sc.dur), t.lf)) AS BIGINT) AS lf
              FROM lf${r - 1} t
              LEFT JOIN edges e ON e.src = t.k
              LEFT JOIN lf${r - 1} sc ON sc.k = e.dst
              GROUP BY t.k, t.dur, t.lf)"""
        }.mkString(",\n")
        s"""
          WITH tasks AS MATERIALIZED ($base),
          edges AS MATERIALIZED (
            SELECT pred1 AS src, k AS dst FROM tasks WHERE pred1 IS NOT NULL
            UNION ALL
            SELECT pred2 AS src, k AS dst FROM tasks WHERE pred2 IS NOT NULL),
          es0 AS (SELECT k, dur, CAST(0 AS BIGINT) AS es FROM tasks),
          $fwd,
          pend AS MATERIALIZED (SELECT max(es + dur) AS t FROM es12),
          lf0 AS (SELECT k, dur, CAST((SELECT max(t) FROM pend) AS BIGINT) AS lf
                  FROM es12),
          $bwd
          SELECT f.k, f.dur, f.es, f.es + f.dur AS ef, b.lf,
                 b.lf - f.dur - f.es AS slack,
                 (SELECT max(t) FROM pend) AS project_duration
          FROM es12 f JOIN lf12 b ON b.k = f.k
          ORDER BY 6, 3, 1 LIMIT 10"""
      }),
  )
}
