package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sixteenth wave: the Spark 4 SQL surface a migrating user reaches for
  * next — correlated LATERAL subqueries (q199), recursive CTEs (q200,
  * new in Spark 4), ordered LISTAGG (q202, new in Spark 4), try_*
  * error-safe arithmetic (q203) — plus two join/window shapes every
  * large pipeline needs: interval-union islands (q201, the set-cover
  * side of sessionization) and null-safe key joins (q204).
  *
  * Scale shapes: q199's lateral top-k is planned by Catalyst as a
  * ranked window over one shuffle of the fact side (never a per-row
  * re-scan of customer); q200's recursion walks a 10-ary key hierarchy
  * so the frontier shrinks ~10× per round and depth is log10(maxkey)
  * (≤7 even at 100 TB key ranges) — each round shuffles only the
  * surviving frontier; q201 is ONE keyed window pass (no self-join
  * sessionization); q202's LISTAGG runs over a bounded top-3-per-source
  * table, never raw rows; q203's try_divide is codegen'd null-on-error
  * arithmetic — the hygiene that keeps a 10^12-row scan alive when ANSI
  * mode would throw on the first degenerate row; q204 aggregates BOTH
  * sides to per-key counts before the null-safe join, so the join is
  * key-cardinality-sized — and the scaladoc records the skew hazard
  * (<=> hashes NULL as a real key: every null row co-locates).
  */
object Training16 {
  /** q200's lazy plan plus a conf-restore thunk. The default recursion
    * working-set guard (1M rows across all iterations) trips on any
    * real table: every part emits depth+1 frontier rows, so a 200k-part
    * table at depth 10 is already 2M. Row count is not the resource to
    * bound here — depth is (the conf left at its 100 default) — so the
    * row guard is sized from THIS input (rows × max key-digit depth,
    * padded). The caller runs/plans the frame, then calls restore() to
    * put the session default back (exposed separately so PlanSpec can
    * inspect the pre-execution plan — an eager helper would hide the
    * UnionLoop behind a checkpointed RDD scan).
    */
  /** `nParts` lets the dispatch site reuse its own count — passing -1
    * (the spec entry point) counts here.
    */
  private[graft] def q200Plan(s: SparkSession, d: String,
      nParts: Long = -1L): (DataFrame, () => Unit) = {
    val parts = Tables(s, d, "part")
    val n = if (nParts >= 0) nParts else parts.count()
    val bound = (n + 1000L) * 12L // ≤12 decimal digits/key
    val prev = s.conf.getOption("spark.sql.cteRecursionRowLimit")
    s.conf.set("spark.sql.cteRecursionRowLimit", bound.toString)
    parts.createOrReplaceTempView("graft_part_rec")
    val df = s.sql("""
      WITH RECURSIVE walk(part_key, anc, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM graft_part_rec
        UNION ALL
        SELECT part_key, anc div 10, depth + 1 FROM walk WHERE anc >= 10
      )
      SELECT anc AS root_digit, count(*) AS n_parts,
             max(depth) AS max_depth,
             CAST(sum(part_key) AS BIGINT) AS key_sum
      FROM walk WHERE anc < 10 GROUP BY anc""")
    val restore = () => prev match {
      case Some(v) => s.conf.set("spark.sql.cteRecursionRowLimit", v)
      case None    => s.conf.unset("spark.sql.cteRecursionRowLimit")
    }
    (df, restore)
  }

  /** q200's closed form: the recursion's parent function is pure
    * arithmetic (`anc div 10`), so depth/root are per-row expressions
    * (KeyHierarchy literal CASE trees) and the whole rollup is ONE scan
    * + ONE keyed agg — no UnionLoop rounds. Bit-identical to the
    * recursion on every input (exact integer `div`); KeyHierarchySpec
    * proves branch equality and JVM-walk agreement.
    */
  private[graft] def q200ClosedForm(parts: DataFrame): DataFrame = {
    import graft.operators.KeyHierarchy
    parts
      .selectExpr(
        s"${KeyHierarchy.rootSql("p_partkey", 10L)} AS root_digit",
        s"${KeyHierarchy.depthSql("p_partkey", 10L)} AS depth",
        "p_partkey AS part_key")
      .groupBy("root_digit")
      .agg(
        count(lit(1)).as("n_parts"),
        max("depth").as("max_depth"),
        sum("part_key").cast("bigint").as("key_sum"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- correlated LATERAL subquery with ORDER BY/LIMIT: top-3
    // customers by balance per nation, written the way an OLTP-minded
    // user writes it. Catalyst decorrelates the lateral into a ranked
    // window join — the plan is the same one q07 declares explicitly,
    // so the per-nation work is one shuffle of customer, not 25
    // re-scans. Ties broken by custkey: deterministic output.
    QueryDef(
      "q199_lateral_topk",
      (s, d) => {
        Tables(s, d, "nation").createOrReplaceTempView("graft_nation_lat")
        Tables(s, d, "customer").createOrReplaceTempView("graft_customer_lat")
        s.sql("""
          SELECT n.n_name, c.c_custkey, c.c_acctbal
          FROM graft_nation_lat n,
          LATERAL (SELECT c_custkey, c_acctbal
                   FROM graft_customer_lat
                   WHERE c_nationkey = n.n_nationkey
                   ORDER BY c_acctbal DESC, c_custkey
                   LIMIT 3) c""")
      },
      Some("""
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_custkey, c_acctbal
                 FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 3) c""")),

    // ---- recursive CTE (Spark 4): climb the implicit 10-ary key
    // hierarchy parent(k) = k div 10 from every part to its sub-10
    // root digit, then roll up per root. Each part emits exactly one
    // terminal (anc < 10) row, so count/sum are exact; depth is the
    // number of divisions. The recursion frontier shrinks 10× per
    // round — the fixpoint costs O(log10 maxkey) shuffles of a
    // shrinking frontier, the same shape as the engine's iterative
    // connected-components operator but expressed declaratively.
    QueryDef(
      "q200_recursive_rollup",
      (s, d) => {
        // Scale dispatch (the autoTopK pattern): the recursion is the
        // declared surface and runs at harness scale; above the limit
        // the closed form gives the same rows from ONE scan + ONE agg
        // (the recursion costs a shuffle + plan round per key digit).
        // Equality is exact, not approximate, so flipping the branch
        // can never change the output (KeyHierarchySpec pins both).
        val parts = Tables(s, d, "part")
        val limit = s.conf.getOption("spark.graft.hierarchy.recursionLimit")
          .map(_.toLong).getOrElse(100000L)
        val nParts = parts.count() // shared by the dispatch AND the row-limit bound
        if (nParts > limit) q200ClosedForm(parts)
        else {
          val (df, restore) = q200Plan(s, d, nParts)
          // eager: materialized while the bound is set, then the session
          // default is restored so the runaway-recursion guard stays
          // armed for every later query in a long-lived session.
          try df.localCheckpoint()
          finally restore()
        }
      },
      Some("""
        WITH RECURSIVE walk(part_key, anc, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part
          UNION ALL
          SELECT part_key, anc // 10, depth + 1 FROM walk WHERE anc >= 10
        )
        SELECT anc AS root_digit, count(*) AS n_parts,
               max(depth) AS max_depth,
               CAST(sum(part_key) AS BIGINT) AS key_sum
        FROM walk WHERE anc < 10 GROUP BY anc""")),

    // ---- interval-union islands: give every event a 30-minute
    // activity interval and merge overlapping/touching intervals per
    // user (an island is maximal w.r.t. "next start ≤ running max
    // end", so its union is one contiguous range and covered time is
    // exactly stop − start). ONE keyed window pass in integer micros —
    // no self-join, no island×event blowup; at 100 TB this is a single
    // shuffle on user_id. The running max end (not lag) is what makes
    // it correct when an earlier long interval swallows later ones.
    QueryDef(
      "q201_interval_islands",
      (s, d) => {
        val winUs = 1800000000L // 30 min
        val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val ev = Tables(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"))
          .withColumn("end_us", col("ts_us") + winUs)
          .withColumn("prev_max_end",
            max("end_us").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("is_new",
            when(col("prev_max_end").isNull ||
              col("ts_us") > col("prev_max_end"), 1L).otherwise(0L))
          .withColumn("island",
            sum("is_new").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
        ev.groupBy("user_id", "island")
          .agg(min("ts_us").as("start_us"), max("end_us").as("stop_us"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_islands"),
            sum(col("stop_us") - col("start_us")).as("covered_us"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
          FROM events),
        f AS (
          SELECT user_id, ts_us, event_id, ts_us + 1800000000 AS end_us,
                 max(ts_us + 1800000000) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_end
          FROM ev),
        g AS (
          SELECT user_id, ts_us, end_us,
                 sum(CASE WHEN prev_max_end IS NULL OR ts_us > prev_max_end
                          THEN 1 ELSE 0 END) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM f),
        isl AS (
          SELECT user_id, island,
                 min(ts_us) AS start_us, max(end_us) AS stop_us
          FROM g GROUP BY user_id, island)
        SELECT user_id, count(*) AS n_islands,
               CAST(sum(stop_us - start_us) AS BIGINT) AS covered_us
        FROM isl GROUP BY user_id""")),

    // ---- ordered LISTAGG (Spark 4 WITHIN GROUP): the top-3 languages
    // per source as one "lang:count" string, rank-ordered. The agg runs
    // over the bounded top-3 table (|sources|×3 rows), so the string
    // build is metadata-sized no matter the corpus; the only data-sized
    // pass is the (source, lang) count.
    QueryDef(
      "q202_listagg_top_langs",
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        counts
          .withColumn("rk", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("cnt").desc, col("lang"))))
          .where(col("rk") <= 3)
          .withColumn("e", concat_ws(":", col("lang"), col("cnt")))
          .groupBy("source")
          .agg(
            expr("listagg(e, ',') WITHIN GROUP (ORDER BY rk)")
              .as("top_langs"),
            sum("cnt").as("top_n"))
      },
      Some("""
        WITH c AS (
          SELECT source, lang, count(*) AS cnt
          FROM documents GROUP BY 1, 2),
        r AS (
          SELECT source, lang, cnt,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, lang) AS rk
          FROM c)
        SELECT source,
               string_agg(lang || ':' || cnt, ',' ORDER BY rk) AS top_langs,
               CAST(sum(cnt) AS BIGINT) AS top_n
        FROM r WHERE rk <= 3 GROUP BY source""")),

    // ---- try_* error-safe arithmetic: per-unit markup against
    // quantity−1, which is 0 for single-unit lines. Spark 4 runs ANSI
    // mode by default — a plain division would kill the whole scan on
    // the first such row; try_divide yields NULL instead and the query
    // reports how many rows were degenerate. Ratios rounded to 6 dp at
    // the source on both engines (libm discipline), then decimal-summed
    // so the average is order-independent.
    QueryDef(
      "q203_try_arithmetic",
      (s, d) =>
        Tables(s, d, "lineitem")
          .withColumn("markup",
            expr("round(try_divide(l_extendedprice, l_quantity - 1), 6)"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("markup").isNull, 1L).otherwise(0L))
              .as("n_undefined"),
            expr("""round(CAST(sum(CAST(markup AS DECIMAL(28,6))) AS DOUBLE)
                          / count(markup), 6)""").as("avg_markup")),
      Some("""
        WITH m AS (
          SELECT l_returnflag,
                 round(l_extendedprice / nullif(l_quantity - 1, 0), 6)
                   AS markup
          FROM lineitem)
        SELECT l_returnflag, count(*) AS n_rows,
               CAST(sum(CASE WHEN markup IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_undefined,
               round(CAST(sum(CAST(markup AS DECIMAL(28,6))) AS DOUBLE)
                     / count(markup), 6) AS avg_markup
        FROM m GROUP BY l_returnflag""")),

    // ---- null-safe equi-join (<=> / IS NOT DISTINCT FROM): pair the
    // even- and odd-custkey populations on a key where one class is
    // folded to NULL, and count cross pairs per key INCLUDING the
    // null-key pairs a plain equi-join silently drops. Both sides are
    // aggregated to per-key counts first, so the join touches
    // |keys| rows, not data. Scale note, recorded on purpose: <=>
    // hashes NULL as a real key value — every null row co-locates in
    // one partition, so at 100 TB a null-heavy raw-row null-safe join
    // needs the same salting treatment as any hot key (here the
    // aggregate-first shape removes the hazard entirely).
    QueryDef(
      "q204_nullsafe_join",
      (s, d) => {
        val keyed = Tables(s, d, "customer")
          .withColumn("k", expr("nullif(c_nationkey % 5, 4)"))
        val even = keyed.where(col("c_custkey") % 2 === 0)
          .groupBy("k").agg(count(lit(1)).as("n_even"))
        // distinct key name on the right side: both branches descend from
        // the same `keyed` plan, and a same-name join condition would
        // lean on Spark's self-join disambiguation (it WARNs "trivially
        // true predicate" even when it resolves correctly).
        val odd = keyed.where(col("c_custkey") % 2 === 1)
          .groupBy("k").agg(count(lit(1)).as("n_odd"))
          .withColumnRenamed("k", "k_odd")
        even.join(odd, col("k") <=> col("k_odd"))
          .select(col("k"), (col("n_even") * col("n_odd")).as("n_pairs"))
      },
      Some("""
        WITH c AS (
          SELECT c_custkey, nullif(c_nationkey % 5, 4) AS k FROM customer),
        a AS (SELECT k, count(*) AS n_even FROM c
              WHERE c_custkey % 2 = 0 GROUP BY k),
        b AS (SELECT k, count(*) AS n_odd FROM c
              WHERE c_custkey % 2 = 1 GROUP BY k)
        SELECT a.k, CAST(a.n_even * b.n_odd AS BIGINT) AS n_pairs
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""")),
  )
}
