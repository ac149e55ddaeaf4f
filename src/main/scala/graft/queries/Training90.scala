package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Ninetieth wave — synopses, probabilistic linkage and online learning:
  *
  *  - q432: Haar wavelet top-B synopsis answering range queries — the
  *    daily revenue series is gridded to 256 slots, lifted through 8
  *    integer sum/difference levels (s=a+b, d=a-b — no normalization,
  *    so the transform is exact in BIGINT), the 24 largest-magnitude
  *    detail coefficients are kept (adaptive, unlike a fixed-width
  *    histogram), and the series is reconstructed by 8 inverse halving
  *    steps; the output compares exact vs reconstructed octant sums —
  *    the classic wavelet-synopsis range-query answering of Matias,
  *    Vitter & Wang (SIGMOD'98). Every step after the one fact-table
  *    aggregation runs on a ≤256-row frame.
  *  - q433: Fellegi–Sunter probabilistic record linkage (JASA 1969) —
  *    blocked candidate part pairs scored by per-field agreement
  *    weights ln(m/u) / ln((1-m)/(1-u)) in integer micro-nats
  *    (plan-time literals, identical in both dialects), classified
  *    into link / possible / non-link bands. Blocking is ADAPTIVE
  *    (see `fsSql`): a measured block-mass probe escalates blocks
  *    above the pair budget from the 2-char name prefix to a 6-char
  *    prefix to the full name (+ brand and size±1 throughout), all
  *    deterministic so DuckDB replays the escalation; the FS weight
  *    algebra on top is what turns "fuzzy pairs" into a calibrated
  *    linkage decision.
  *  - q434: follow-the-leader expert replay with hindsight regret —
  *    arms are event types, rounds are days, reward is the day's
  *    total value in integer micro-units; each day FTL plays the arm
  *    with the best cumulative reward so far (ties to the
  *    alphabetically first arm) and the output pins cumulative FTL
  *    reward, the best fixed arm in hindsight, the regret, and how
  *    often the leader changed. One fact-table aggregation; all
  *    windows run over the day×arm dictionary.
  */
object Training90 {
  private def mlog(x: Double): Long = math.round(math.log(x) * 1e6)
  // q433 field weights (m, u) in micro-nats
  private val NameA = mlog(0.95 / 0.05); private val NameD = mlog(0.05 / 0.95)
  private val TypeA = mlog(0.90 / 0.05); private val TypeD = mlog(0.10 / 0.95)
  private val SizeA = mlog(0.85 / 0.30); private val SizeD = mlog(0.15 / 0.70)
  private val PriceA = mlog(0.80 / 0.02); private val PriceD = mlog(0.20 / 0.98)
  private val LinkThr = 5000000L

  /** q433 block pair budget: a block whose row count exceeds this
    * escalates to the next-tighter key. 64² = 4096 comparisons is the
    * per-block ceiling at every bounded level.
    */
  private val FsBlockCap = 64

  /** q433 — Fellegi–Sunter scoring over ADAPTIVELY blocked pairs.
    * Blocking keys come in three precision levels: L0 = 2-char name
    * prefix + brand, L1 = 6-char prefix + brand, L2 = full name +
    * brand. Each row's key is the COARSEST level whose block stays
    * within `FsBlockCap` rows (the measured block-mass probe the
    * HotShingleCap/`Dedup.jaccardPairs(dfCap)` recipe uses, applied to
    * linkage): rows sharing an L1 key share an L0 key, so level
    * selection is consistent — key equality implies the same level —
    * and fully DETERMINISTIC, which is what lets DuckDB replay the
    * escalation and keep the query hash-oracled with the adaptivity
    * ACTIVE. A static key's blocks grow linearly with the corpus and
    * their pair mass quadratically (5.6× at 10× in r9); under
    * escalation only the irreducible identical-name mass remains
    * quadratic — and those pairs ARE the linkage candidates. The level
    * tag ('0:'/'1:'/'2:') keeps keys from different levels from
    * colliding. One SQL string serves both dialects (no dialect
    * divergence to drift).
    */
  private def fsSql(partRel: String): String = s"""
    WITH p0 AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice,
             substr(p_name, 1, 2) AS k0, substr(p_name, 1, 6) AS k1
      FROM $partRel),
    c0 AS (SELECT k0, p_brand AS br, count(*) AS n FROM p0 GROUP BY k0, p_brand),
    c1 AS (SELECT k1, p_brand AS br, count(*) AS n FROM p0 GROUP BY k1, p_brand),
    keyed AS (
      SELECT p0.p_partkey, p0.p_name, p0.p_brand, p0.p_type, p0.p_size,
             p0.p_retailprice,
             CASE WHEN c0.n <= $FsBlockCap THEN concat('0:', p0.k0)
                  WHEN c1.n <= $FsBlockCap THEN concat('1:', p0.k1)
                  ELSE concat('2:', p0.p_name) END AS blk
      FROM p0
      JOIN c0 ON c0.k0 = p0.k0 AND c0.br = p0.p_brand
      JOIN c1 ON c1.k1 = p0.k1 AND c1.br = p0.p_brand),
    pairs AS (
      SELECT (CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
              THEN CAST($NameA AS BIGINT) ELSE CAST($NameD AS BIGINT) END)
           + (CASE WHEN a.p_type = b.p_type
              THEN CAST($TypeA AS BIGINT) ELSE CAST($TypeD AS BIGINT) END)
           + (CASE WHEN a.p_size = b.p_size
              THEN CAST($SizeA AS BIGINT) ELSE CAST($SizeD AS BIGINT) END)
           + (CASE WHEN abs(CAST(round(a.p_retailprice * 100, 0) AS BIGINT)
                      - CAST(round(b.p_retailprice * 100, 0) AS BIGINT)) <= 2000
              THEN CAST($PriceA AS BIGINT) ELSE CAST($PriceD AS BIGINT) END) AS score,
             CASE WHEN levenshtein(a.p_name, b.p_name) <= 4 THEN 1 ELSE 0 END AS na
      FROM keyed a JOIN keyed b
        ON a.blk = b.blk
       AND a.p_brand = b.p_brand
       AND abs(a.p_size - b.p_size) <= 1
       AND a.p_partkey < b.p_partkey)
    SELECT CASE WHEN score >= $LinkThr THEN 'link'
                WHEN score >= 0 THEN 'possible'
                ELSE 'non_link' END AS band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(score) AS BIGINT) AS sum_score_micro,
           CAST(sum(na) AS BIGINT) AS n_name_agree
    FROM pairs GROUP BY 1 ORDER BY band"""

  /** q432's grid SQL (the only fact-table-sized step), per dialect. */
  private def haarGridSql(spark: Boolean, ordersRel: String): String = {
    val dd = if (spark) "datediff(o_orderdate, mind)" else "date_diff('day', mind, o_orderdate)"
    val span = if (spark) "datediff(maxd, mind)" else "date_diff('day', mind, maxd)"
    val idiv = if (spark) "div" else "//"
    val grid256 = if (spark) "SELECT explode(sequence(0, 255)) AS idx"
      else "SELECT t.idx FROM range(256) t(idx)"
    s"""
      WITH bounds AS (
        SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd FROM $ordersRel),
      slots AS (
        SELECT CAST((($dd) * 256) $idiv (($span) + 1) AS INT) AS idx,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        FROM $ordersRel, bounds GROUP BY 1)
      SELECT g.idx, CAST(coalesce(s.cents, 0) AS BIGINT) AS v
      FROM ($grid256) g LEFT JOIN slots s ON s.idx = g.idx"""
  }

  /** q432's lift → threshold → reconstruct → octant-answer SQL over a
    * 256-row grid relation. Pure CTE algebra shared by both dialects
    * modulo the integer-division spelling; on the Spark side the grid
    * is a localCheckpointed LocalRelation, so the (quadratic) CTE
    * re-inlining the chained levels cause re-reads 256 in-memory rows,
    * never the fact table.
    */
  private def haarRestSql(spark: Boolean, gridRel: String): String = {
    val idiv = if (spark) "div" else "//"
    // forward: t<k> pairs g<k+1>'s 2^(k+1) rows into 2^k (s, d) rows
    val fwd = (7 to 0 by -1).map { k =>
      val src = if (k == 7) gridRel else s"(SELECT idx, s AS v FROM t${k + 1})"
      s"""t$k AS (
          SELECT idx $idiv 2 AS idx, CAST(sum(v) AS BIGINT) AS s,
                 CAST(sum(CASE WHEN idx % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
          FROM $src GROUP BY idx $idiv 2)"""
    }.mkString(",\n")
    val detailUnion = (7 to 0 by -1)
      .map(k => s"SELECT $k AS lvl, idx, d FROM t$k").mkString(" UNION ALL ")
    // inverse: h<k+1> doubles h<k> using the thresholded details d'_k
    val inv = (0 to 7).map { k =>
      val src = if (k == 0) "(SELECT 0 AS idx, s AS v FROM t0)" else s"h$k"
      s"""h${k + 1} AS (
          SELECT 2 * p.idx + e.off AS idx,
                 CAST(floor((p.v + CASE WHEN e.off = 0 THEN c.dk ELSE -c.dk END) / 2.0) AS BIGINT) AS v
          FROM $src p
          JOIN (SELECT idx, CASE WHEN rn <= 24 THEN d ELSE 0 END AS dk
                FROM ranked WHERE lvl = $k) c ON c.idx = p.idx
          CROSS JOIN (VALUES (0), (1)) AS e(off))"""
    }.mkString(",\n")
    s"""
      WITH $fwd,
      details AS ($detailUnion),
      ranked AS (
        SELECT lvl, idx, d,
               row_number() OVER (ORDER BY abs(d) DESC, lvl, idx) AS rn
        FROM details),
      $inv
      SELECT CAST(g.idx $idiv 32 AS INT) AS octant,
             CAST(sum(g.v) AS BIGINT) AS exact_cents,
             CAST(sum(h.v) AS BIGINT) AS recon_cents,
             CAST(abs(sum(g.v) - sum(h.v)) AS BIGINT) AS abs_err
      FROM $gridRel g JOIN h8 h ON h.idx = g.idx
      GROUP BY g.idx $idiv 32 ORDER BY octant"""
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q432_haar_synopsis",
      (s, d) => {
        // ONE fact-table aggregation builds the 256-slot grid; the
        // transform of a 256-long synopsis is driver algebra (the q414
        // pattern — the collect is bounded by the grid size, never the
        // corpus). A chained-CTE SQL form measured 8.5 s of re-inlined
        // tiny stages; per-level localCheckpoints still 3.6 s of job
        // overhead; this form is the scan + one collect.
        Tables(s, d, "orders").createOrReplaceTempView("graft_haar_orders")
        val g = new Array[Long](256)
        s.sql(haarGridSql(spark = true, "graft_haar_orders")).collect()
          .foreach(r => g(r.getInt(0)) = r.getLong(1))
        // forward lifting: s=a+b, d=a-b per level; ds(i) = level 7-i
        var a = g; val ds = Seq.newBuilder[Array[Long]]
        while (a.length > 1) {
          ds += Array.tabulate(a.length / 2)(i => a(2 * i) - a(2 * i + 1))
          a = Array.tabulate(a.length / 2)(i => a(2 * i) + a(2 * i + 1))
        }
        val details = ds.result()
        val kept = details.zipWithIndex.flatMap { case (dd, i) =>
          dd.zipWithIndex.map { case (v, idx) => (7 - i, idx, v) }
        }.sortBy { case (lvl, idx, v) => (-math.abs(v), lvl, idx) }
          .take(24).map { case (lvl, idx, _) => (lvl, idx) }.toSet
        var r = a // length-1 approx, always kept
        for (k <- 0 to 7) {
          val dk = details(7 - k)
          r = Array.tabulate(r.length * 2) { j =>
            val v = r(j / 2)
            val dv = if (kept((k, j / 2))) dk(j / 2) else 0L
            math.floorDiv(if (j % 2 == 0) v + dv else v - dv, 2)
          }
        }
        import s.implicits._
        (0 until 8).map { o =>
          val ex = (o * 32 until (o + 1) * 32).map(g).sum
          val rc = (o * 32 until (o + 1) * 32).map(r).sum
          (o, ex, rc, math.abs(ex - rc))
        }.toDF("octant", "exact_cents", "recon_cents", "abs_err")
      },
      Some(s"""
        WITH haar_g8 AS (${haarGridSql(spark = false, "orders")}),
        rest AS (${haarRestSql(spark = false, "haar_g8")})
        SELECT * FROM rest""")),

    QueryDef(
      "q433_fellegi_sunter_linkage",
      (s, d) => {
        Tables(s, d, "part").createOrReplaceTempView("graft_fs_part")
        s.sql(fsSql("graft_fs_part"))
      },
      Some(fsSql("part"))),

    QueryDef(
      "q434_ftl_expert_replay",
      (s, d) => {
        Tables(s, d, "events").createOrReplaceTempView("graft_ftl_events")
        s.sql(ftlSql(spark = true, "graft_ftl_events"))
      },
      Some(ftlSql(spark = false, "events"))),
  )

  private def ftlSql(spark: Boolean, eventsRel: String): String = {
    val day = if (spark) "to_date(ts)" else "CAST(ts AS DATE)"
    s"""
      WITH rewards AS (
        SELECT event_type AS arm, $day AS day,
               CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS r
        FROM $eventsRel GROUP BY 1, 2),
      dense AS (
        SELECT a.arm, dd.day, CAST(coalesce(r.r, 0) AS BIGINT) AS r
        FROM (SELECT DISTINCT arm FROM rewards) a
        CROSS JOIN (SELECT DISTINCT day FROM rewards) dd
        LEFT JOIN rewards r ON r.arm = a.arm AND r.day = dd.day),
      cums AS (
        SELECT arm, day, r,
               sum(r) OVER (PARTITION BY arm ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - r AS prior
        FROM dense),
      leaders AS (
        SELECT arm, day, r, prior,
               row_number() OVER (PARTITION BY day ORDER BY prior DESC, arm) AS rk
        FROM cums),
      played AS (
        SELECT day, arm AS leader, r AS ftl_r,
               CASE WHEN arm <> lag(arm) OVER (ORDER BY day) THEN 1 ELSE 0 END AS changed
        FROM leaders WHERE rk = 1),
      fixed_best AS (
        SELECT arm AS best_arm, CAST(total AS BIGINT) AS best_total
        FROM (SELECT arm, sum(r) AS total,
                     row_number() OVER (ORDER BY sum(r) DESC, arm) AS rk
              FROM dense GROUP BY arm) x WHERE rk = 1)
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(ftl_r) AS BIGINT) AS ftl_total_micro,
             max(best_arm) AS best_arm,
             CAST(max(best_total) AS BIGINT) AS best_total_micro,
             CAST(max(best_total) - sum(ftl_r) AS BIGINT) AS regret_micro,
             CAST(sum(changed) AS BIGINT) AS n_leader_changes
      FROM played CROSS JOIN fixed_best
      GROUP BY best_arm"""
  }
}
