package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sixty-second wave — outer streaming joins, incremental view
  * maintenance, slowly-changing dimensions, and dependency profiling:
  *
  *  - q351: LEFT OUTER stream-stream join — the streaming tier where
  *    watermarks become LOAD-BEARING (unmatched rows may only emit
  *    once the watermark proves no future match), driven to a
  *    deterministic full flush by staged sentinel batches.
  *  - q352: incremental maintenance of a JOIN view — the classic delta
  *    algebra ΔV = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC beside q247's aggregate IVM;
  *    correctness is the oracle equality with the full recompute.
  *  - q353: SCD Type-2 build from two dimension snapshots — full-outer
  *    compare classifies insert/update/unchanged and emits the
  *    validity intervals a temporal warehouse dimension carries.
  *  - q354: dependency discovery (data profiling): functional and
  *    inclusion dependency checks as keyed aggs / anti-joins — the
  *    Metanome-style census that finds keys and FKs in an unknown
  *    dataset.
  */
object Training62 {
  val defs: Seq[QueryDef] = Seq(

    // ---- LEFT OUTER stream-stream interval join: views with no
    // purchase within 24h emit with NULL purchase columns. Outer
    // emission requires watermark > view_ts + 24h, so the query stages
    // the events as THREE files streamed one per microbatch (mtime-
    // ordered): the data, then two far-future sentinel batches (a
    // view+purchase pair each, user −1, arranged not to match) whose
    // only job is to advance BOTH sides' event time so batch N+1
    // applies a watermark beyond every data row — after which the
    // emitted SET equals the batch LEFT JOIN regardless of how rows
    // were batched (sentinels filtered out by user_id ≥ 0). State per
    // side stays bounded by within+watermark of event time — the
    // property that lets this run forever on an unbounded stream.
    QueryDef(
      "q351_stream_outer_join",
      (s, d) => {
        import graft.streaming.EventStreams
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_outerjoin_${Integer.toHexString(d.hashCode)}").toString
        val ev = Tables(s, d, "events")
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        def sentinel(idBase: Long, viewPlusUs: Long): DataFrame = {
          // a view + a purchase 1 day BEFORE it (cannot match), both
          // far past the data: advances views' AND purchases' watermark
          val rows = s.range(1).select(
            lit(idBase).as("event_id"),
            expr(s"timestamp_micros(${maxUs + viewPlusUs}L)").as("ts"),
            lit(-1L).as("user_id"), lit("view").as("event_type"),
            lit(0.0).as("value"))
            .unionByName(s.range(1).select(
              lit(idBase + 1).as("event_id"),
              expr(s"timestamp_micros(${maxUs + viewPlusUs - 86400000000L}L)").as("ts"),
              lit(-1L).as("user_id"), lit("purchase").as("event_type"),
              lit(0.0).as("value")))
          // align to the harness schema exactly (extra columns — e.g.
          // the props payload — ride along as NULLs)
          rows.select(ev.schema.fields.toIndexedSeq.map(f =>
            (if (rows.columns.contains(f.name)) col(f.name)
             else lit(null)).cast(f.dataType).as(f.name)): _*)
        }
        val src = EventStreams.stagedBatchesStream(stage, Seq(
          ev,
          sentinel(-100L, 30L * 86400000000L),
          sentinel(-200L, 60L * 86400000000L)))
        EventStreams.runToMemorySink(
          EventStreams.viewToPurchaseOuter(src), "append")
          .filter(col("user_id") >= 0)
          .select("view_id", "purchase_id", "user_id", "lag_us")
      },
      Some("""
        SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
               epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
                 AS lag_us
        FROM events a LEFT JOIN events b
          ON a.user_id = b.user_id
         AND b.event_type = 'purchase'
         AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
         AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 24 HOUR
        WHERE a.event_type = 'view'""")),

    // ---- JOIN-view IVM: the orders⋈customer view is maintained from
    // a base materialization plus deltas on BOTH sides with the
    // textbook insert-delta algebra ΔV = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC (q247
    // covers the aggregate case; joins need the cross-delta term or
    // rows are double-counted/missed). The declared result is the
    // rollup of the INCREMENTALLY assembled view; the oracle is the
    // full-join recompute — equality IS the delta-algebra proof.
    // Scale shape: each delta term touches only delta×dim or
    // delta×delta mass; the old×old base is read from the
    // materialization, never re-joined.
    QueryDef(
      "q352_ivm_join_view",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val c = Tables(s, d, "customer").select("c_custkey", "c_mktsegment")
        val oOld = o.filter(col("o_orderkey") % 10 < 8)
        val oDelta = o.filter(col("o_orderkey") % 10 >= 8)
        val cOld = c.filter(col("c_custkey") % 10 < 9)
        val cDelta = c.filter(col("c_custkey") % 10 >= 9)
        def j(a: DataFrame, b: DataFrame) =
          a.join(b, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
        val vBase = j(oOld, cOld).localCheckpoint() // the stored materialization
        val vNew = vBase
          .unionByName(j(oDelta, cOld))
          .unionByName(j(oOld, cDelta))
          .unionByName(j(oDelta, cDelta))
        vNew.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            graft.Num.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some(s"""
        SELECT c_mktsegment, count(*) AS n_orders,
               ${graft.Num.dsumSql("o_totalprice")} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY c_mktsegment""")),

    // ---- SCD Type-2 build: snapshot v0 (customers except keys
    // divisible by 13 — those "arrive" later) vs snapshot v1 (all
    // customers, balances doubled where key % 7 = 0). One full-outer
    // compare on exact integer cents classifies every key; the SCD row
    // count is 2 for updates (old interval closed + new current row),
    // 1 otherwise — the validity-interval ledger a temporal dimension
    // table maintains. One shuffle join on the dimension key; change
    // detection is a codegen'd integer compare.
    QueryDef(
      "q353_scd2_build",
      (s, d) => {
        val base = Tables(s, d, "customer")
          .select(col("c_custkey"),
            expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"))
        val v0 = base.filter(col("c_custkey") % 13 =!= 0)
          .select(col("c_custkey").as("k0"), col("cents").as("cents0"))
        val v1 = base.select(col("c_custkey").as("k1"),
          when(col("c_custkey") % 7 === 0, col("cents") * 2)
            .otherwise(col("cents")).as("cents1"))
        v0.join(v1, col("k0") === col("k1"), "full_outer")
          .select(
            when(col("k0").isNull, lit("insert"))
              .when(col("cents0") =!= col("cents1"), lit("update"))
              .otherwise(lit("unchanged")).as("change_type"))
          .groupBy("change_type")
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("change_type") === "update", 2L).otherwise(1L))
              .as("n_scd_rows"))
          .orderBy("change_type")
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
          FROM customer),
        v0 AS (SELECT c_custkey AS k0, cents AS cents0 FROM base
               WHERE c_custkey % 13 <> 0),
        v1 AS (SELECT c_custkey AS k1,
                      CASE WHEN c_custkey % 7 = 0 THEN cents * 2 ELSE cents END
                        AS cents1
               FROM base),
        cls AS (
          SELECT CASE WHEN k0 IS NULL THEN 'insert'
                      WHEN cents0 <> cents1 THEN 'update'
                      ELSE 'unchanged' END AS change_type
          FROM v0 FULL OUTER JOIN v1 ON k0 = k1)
        SELECT change_type, count(*) AS n_keys,
               CAST(sum(CASE WHEN change_type = 'update' THEN 2 ELSE 1 END)
                 AS BIGINT) AS n_scd_rows
        FROM cls GROUP BY 1 ORDER BY change_type""")),

    // ---- dependency discovery (profiling): candidate FUNCTIONAL
    // dependencies checked as one keyed countDistinct each (violating
    // groups = lhs values mapping to >1 rhs), candidate INCLUSION
    // dependencies as one distinct + anti-join each (violations = lhs
    // values absent from rhs) — the column-metadata census that finds
    // keys and FKs in an unknown dataset before any modeling. Every
    // check is a map-side-combinable agg or a broadcast-able anti-join
    // on distinct values: dictionary-sized work after the scans.
    QueryDef(
      "q354_dependency_discovery",
      (s, d) => {
        val orders = Tables(s, d, "orders")
        def fd(df: DataFrame, lhs: String, rhs: String): DataFrame =
          df.groupBy(col(lhs))
            .agg(countDistinct(col(rhs)).as("nd"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violations"))
            .select(lit(s"$lhs->$rhs").as("dependency"), lit("fd").as("kind"),
              col("n_lhs"), col("n_violations"),
              (col("n_violations") === 0L).as("holds"))
        def ind(a: DataFrame, ac: String, b: DataFrame, bc: String,
            label: String): DataFrame = {
          // pin the lhs distinct once: the anti-join and the n_lhs count
          // probe would otherwise each re-run it (q346's norm lesson)
          val av = a.select(col(ac).as("v")).distinct().localCheckpoint()
          val bv = b.select(col(bc).as("v")).distinct()
          av.join(bv, Seq("v"), "left_anti")
            .agg(count(lit(1)).as("n_violations"))
            .crossJoin(broadcast(av.agg(count(lit(1)).as("n_lhs"))))
            .select(lit(label).as("dependency"), lit("ind").as("kind"),
              col("n_lhs"), col("n_violations"),
              (col("n_violations") === 0L).as("holds"))
        }
        val li = Tables(s, d, "lineitem")
        val cust = Tables(s, d, "customer")
        val part = Tables(s, d, "part")
        Seq(
          fd(orders, "o_orderkey", "o_custkey"),
          fd(orders, "o_custkey", "o_orderpriority"),
          ind(li, "l_orderkey", orders, "o_orderkey", "l_orderkey<=o_orderkey"),
          ind(orders, "o_custkey", cust, "c_custkey", "o_custkey<=c_custkey"),
          ind(part, "p_partkey", li, "l_partkey", "p_partkey<=l_partkey"))
          .reduce(_ unionByName _)
          .orderBy("dependency")
      },
      Some("""
        WITH fd1 AS (
          SELECT 'o_orderkey->o_custkey' AS dependency, 'fd' AS kind,
                 count(*) AS n_lhs,
                 CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations
          FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
                FROM orders GROUP BY 1) z),
        fd2 AS (
          SELECT 'o_custkey->o_orderpriority', 'fd', count(*),
                 CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
                FROM orders GROUP BY 1) z),
        i1 AS (
          SELECT 'l_orderkey<=o_orderkey', 'ind',
                 (SELECT count(DISTINCT l_orderkey) FROM lineitem),
                 (SELECT count(*) FROM
                   (SELECT DISTINCT l_orderkey FROM lineitem
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) z)),
        i2 AS (
          SELECT 'o_custkey<=c_custkey', 'ind',
                 (SELECT count(DISTINCT o_custkey) FROM orders),
                 (SELECT count(*) FROM
                   (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) z)),
        i3 AS (
          SELECT 'p_partkey<=l_partkey', 'ind',
                 (SELECT count(DISTINCT p_partkey) FROM part),
                 (SELECT count(*) FROM
                   (SELECT DISTINCT p_partkey FROM part
                    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)) z)),
        u AS (
          SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
          UNION ALL SELECT * FROM i1 UNION ALL SELECT * FROM i2
          UNION ALL SELECT * FROM i3)
        SELECT dependency, kind, CAST(n_lhs AS BIGINT) AS n_lhs,
               n_violations, n_violations = 0 AS holds
        FROM u ORDER BY dependency""")),
  )
}
