package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sixty-fifth wave — metadata-driven SQL, exact selection at scale,
  * warehouse referential hygiene, and streaming CDC:
  *
  *  - q362: the IDENTIFIER clause — a session variable names the
  *    grouping column, the safe parameterized-identifier surface that
  *    replaces string-spliced SQL in metadata-driven reports.
  *  - q363: EXACT global median by two-pass bucket selection (coarse
  *    histogram → one tiny candidate bucket) — exact order statistics
  *    without a global sort, the selection algorithm that works at
  *    100 TB where `percentile`'s per-group value buffer cannot.
  *  - q364: late-arriving dimension handling — stub members keep facts
  *    joinable (and visible) until the dimension row lands, then the
  *    backfill reconciles; the referential-integrity pattern every
  *    warehouse ETL needs.
  *  - q365: streaming CDC apply with DELETE tombstones
  *    (transformWithState ValueState) — insert/update/delete batches
  *    fold into per-key state and the materialized result equals the
  *    log's net effect.
  */
object Training65 {
  val defs: Seq[QueryDef] = Seq(

    // ---- IDENTIFIER clause: the report's grouping column arrives as
    // DATA (a session variable), not as code — IDENTIFIER() turns the
    // constant string into a resolved column reference at analysis
    // time, with none of the injection/typo hazards of splicing SQL
    // text. The oracle is the statically-written equivalent.
    QueryDef(
      "q362_sql_identifier_clause",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("graft_ord_idf")
        s.sql("DECLARE OR REPLACE VARIABLE graft_dim_col STRING")
        s.sql("SET VAR graft_dim_col = 'o_orderpriority'")
        s.sql("""
          SELECT IDENTIFIER(graft_dim_col) AS dim_value,
                 count(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS revenue
          FROM graft_ord_idf
          GROUP BY IDENTIFIER(graft_dim_col)
          ORDER BY dim_value""")
      },
      Some("""
        SELECT o_orderpriority AS dim_value, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1 ORDER BY dim_value""")),

    // ---- exact global median via two-pass bucket selection: pass 1
    // bins the column into ≤4096 equal-width buckets (one keyed agg →
    // a driver-sized histogram), the cumulative walk locates the
    // bucket holding rank ⌈n/2⌉, pass 2 reads ONLY that bucket (a
    // pushed-down range predicate — ~n/4096 rows) and takes the k-th
    // smallest within it. Exact answer, two scans, no global sort, no
    // per-group value buffer — how exact order statistics survive
    // 100 TB (a pathological single-value column degenerates pass 2
    // to a recursion on the same scheme; n_pass2/pass2_ppm make the
    // reduction auditable). Lower median declared for even n.
    QueryDef(
      "q363_twopass_exact_median",
      (s, d) => {
        val cents = Tables(s, d, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"))
          .localCheckpoint() // histogram + candidate-bucket passes read it
        val st = cents.agg(min("c").as("lo"), max("c").as("hi"),
          count(lit(1)).as("n")).head()
        val (lo, hi, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
        val w = math.max(1L, (hi - lo + 4096) / 4096)
        val hist = cents
          .groupBy(expr(s"(c - ${lo}L) div ${w}L").as("b"))
          .agg(count(lit(1)).as("bn"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val k = (n + 1) / 2
        var cum = 0L
        val (mb, before) = hist.collectFirst {
          case (b, bn) if { val keep = cum + bn >= k; if (!keep) cum += bn; keep } =>
            (b, cum)
        }.getOrElse(sys.error("empty input"))
        val bucket = cents.filter(expr(s"(c - ${lo}L) div ${w}L = ${mb}L"))
        val n2 = bucket.count()
        val med = bucket.orderBy("c").limit((k - before).toInt)
          .agg(max("c")).head().getLong(0)
        import s.implicits._
        Seq((n, med, n2, (2 * 1000000L * n2 + n) / (2 * n)))
          .toDF("n_rows", "median_c", "n_pass2", "pass2_ppm")
      },
      Some("""
        WITH c AS (
          SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
          FROM lineitem),
        st AS (SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM c),
        p AS (SELECT lo, n, greatest(1, (hi - lo + 4096) // 4096) AS w FROM st),
        med AS (
          SELECT c AS m FROM c ORDER BY c
          LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM st)),
        mb AS (SELECT ((SELECT m FROM med) - lo) // w AS mb, lo, w FROM p),
        p2 AS (
          SELECT count(*) AS n2 FROM c, mb
          WHERE (c.c - mb.lo) // mb.w = mb.mb)
        SELECT (SELECT n FROM st) AS n_rows,
               (SELECT m FROM med) AS median_c,
               (SELECT n2 FROM p2) AS n_pass2,
               (2 * 1000000 * (SELECT n2 FROM p2) + (SELECT n FROM st))
                 // (2 * (SELECT n FROM st)) AS pass2_ppm""")),

    // ---- late-arriving dimension: 10% of customers haven't landed
    // when the facts do. Orphan FKs are detected with one distinct
    // anti-join, STUB members are inserted (segment '<stub>') so the
    // fact join stays INNER and referentially closed — facts are
    // visible, flagged, and re-attributable; the backfill phase swaps
    // the stubs for the real rows and the '<stub>' bucket drains to
    // its true segments. Both phase rollups are declared side by side
    // — the audit a warehouse runs after every dimension load.
    QueryDef(
      "q364_late_arriving_dim",
      (s, d) => {
        val facts = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
        val dim = Tables(s, d, "customer").select("c_custkey", "c_mktsegment")
        val onTime = dim.filter(col("c_custkey") % 10 =!= 7)
        val orphans = facts
          .join(onTime, col("o_custkey") === col("c_custkey"), "left_anti")
          .select(col("o_custkey")).distinct()
        val stubs = orphans
          .select(col("o_custkey").as("c_custkey"),
            lit("<stub>").as("c_mktsegment"))
        val dimPhase1 = onTime.unionByName(stubs)
        def roll(dimDf: DataFrame, phase: String): DataFrame =
          facts.join(dimDf, col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n_orders"))
            .select(lit(phase).as("phase"), col("c_mktsegment"),
              col("n_orders"))
        roll(dimPhase1, "arrival").unionByName(roll(dim, "backfill"))
          .orderBy("phase", "c_mktsegment")
      },
      Some("""
        WITH j AS (
          SELECT o_orderkey,
                 CASE WHEN c_custkey % 10 = 7 THEN '<stub>'
                      ELSE c_mktsegment END AS seg_arrival,
                 c_mktsegment AS seg_backfill
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT phase, c_mktsegment, n_orders FROM (
          SELECT 'arrival' AS phase, seg_arrival AS c_mktsegment,
                 count(*) AS n_orders
          FROM j GROUP BY 2
          UNION ALL
          SELECT 'backfill', seg_backfill, count(*)
          FROM j GROUP BY 2) u
        ORDER BY phase, c_mktsegment""")),

    // ---- streaming CDC apply: three mtime-ordered change batches
    // (full insert load → 20% price-doubling updates → 10% deletes)
    // fold into one ValueState per key via CdcApplyProcessor; the
    // materialized table is the per-key max-seq emission with live=1
    // (tombstones keep deleted keys dead against out-of-order
    // replays). The census of the applied table must equal the log's
    // net effect — the oracle computes it statically. State per key
    // is one (seq, cents, live) triple — bounded by the key space.
    QueryDef(
      "q365_stream_cdc_apply",
      (s, d) => {
        import graft.streaming.EventStreams
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_cdcstream_${Integer.toHexString(d.hashCode)}").toString
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey").as("key"),
            expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
        val b1 = base.select(col("key"), lit(1L).as("seq"), col("cents"),
          lit("insert").as("op"))
        val b2 = base.filter(col("key") % 5 === 0)
          .select(col("key"), lit(2L).as("seq"),
            (col("cents") * 2).as("cents"), lit("update").as("op"))
        val b3 = base.filter(col("key") % 10 === 3)
          .select(col("key"), lit(3L).as("seq"), lit(0L).as("cents"),
            lit("delete").as("op"))
        val src = EventStreams.stagedBatchesStream(stage, Seq(b1, b2, b3))
        val applied = EventStreams.withRocksDbStateStore(s) {
          EventStreams.runToMemorySink(EventStreams.cdcApply(src), "append")
        }
        val lastW = Window.partitionBy("key").orderBy(col("seq").desc)
        val finalState = applied
          .withColumn("__rn", row_number().over(lastW))
          .filter(col("__rn") === 1 && col("live") === 1L)
          .select("key", "cents")
        finalState
          .join(Tables(s, d, "orders").select(col("o_orderkey").as("key"),
            col("o_orderpriority")), "key")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_live"), sum("cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH fin AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 5 = 0
                      THEN 2 * CAST(round(o_totalprice * 100, 0) AS BIGINT)
                      ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT)
                 END AS cents
          FROM orders WHERE o_orderkey % 10 <> 3)
        SELECT o_orderpriority, count(*) AS n_live,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM fin GROUP BY 1 ORDER BY o_orderpriority""")),
  )
}
