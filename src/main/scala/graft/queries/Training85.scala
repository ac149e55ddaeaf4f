package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Eighty-fifth wave — self-observability, nested-array compute, and
  * snapshot rollback:
  *
  *  - q419: runtime plan-metrics audit — execute a fixed star query,
  *    then read the `numOutputRows` SQL metrics off the EXECUTED plan
  *    (scan → join → aggregate) and publish them as data. The oracle
  *    re-derives every row count relationally, so the engine's own
  *    telemetry is verified against ground truth — the observability
  *    contract a 100 TB operator dashboard depends on.
  *  - q420: nested-array analytics — orders denormalized with their
  *    lineitems as an array<struct> column, then per-order revenue
  *    computed INSIDE the array with higher-order lambdas (aggregate/
  *    filter/size) — zero explodes, zero re-shuffles of line rows
  *    after the one nest-building aggregation.
  *  - q421: snapshot ROLLBACK — a bad commit (v1) is undone by
  *    re-committing v0's content as the new head (v2); history stays
  *    intact (v1 remains readable for forensics) and the head equals
  *    the pre-incident state. The undo half of the q232 time-travel
  *    story.
  */
object Training85 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q419_plan_metrics_audit",
      (s, d) => {
        import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
        // AQE wraps finished stages in leaf QueryStageExec nodes whose
        // inner plans plain traversal cannot reach — turn it off for
        // the audited execution so every operator's metric is visible
        val saved = s.conf.getOption("spark.sql.adaptive.enabled")
        val rows = try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val li = Tables(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
          val ord = Tables(s, d, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey")
          val star = li.join(ord, col("l_orderkey") === col("o_orderkey"))
            .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
          // drive THIS queryExecution (count() would execute a separate
          // plan and leave these metrics untouched) — but count the
          // groups on the EXECUTORS: executedPlan.execute() runs the
          // same physical plan (same SQL metrics) and RDD.count() ships
          // back one long per partition, where collect() would funnel
          // every group row through the driver — the exact bottleneck
          // this audit query exists to catch
          val plan = star.queryExecution.executedPlan
          val nGroups = plan.execute().count()
          def metric(p: SparkPlan): Option[Long] =
            p.metrics.get("numOutputRows").map(_.value)
          // exact post-filter row counts come from the Filter operators
          // (scan-level counts are row-group-granular under pushdown)
          def filterRows(marker: String): Long = plan.collect {
            case f: FilterExec if f.toString.contains(marker) => metric(f)
          }.flatten.headOption.getOrElse(-1L)
          val joinRows = plan.collect {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
              metric(j)
          }.flatten.headOption.getOrElse(-1L)
          Seq(
            ("1_scan_lineitem", filterRows("lineitem.parquet")),
            ("2_scan_orders_filtered", filterRows("orders.parquet")),
            ("3_join_output", joinRows),
            ("4_agg_groups", nGroups))
        } finally saved.fold(s.conf.unset("spark.sql.adaptive.enabled"))(
          s.conf.set("spark.sql.adaptive.enabled", _))
        import s.implicits._
        rows.toDF("operator", "rows").orderBy("operator")
      },
      Some("""
        SELECT '1_scan_lineitem' AS operator,
               CAST(count(*) AS BIGINT) AS rows FROM lineitem
        UNION ALL
        SELECT '2_scan_orders_filtered', CAST(count(*) AS BIGINT)
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT '3_join_output', CAST(count(*) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT '4_agg_groups', CAST(count(DISTINCT l_orderkey) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        ORDER BY operator""")),

    QueryDef(
      "q420_nested_array_analytics",
      (s, d) => {
        val nested = Tables(s, d, "lineitem")
          .selectExpr("l_orderkey",
            """named_struct(
                 'cents', CAST(round(l_extendedprice * 100, 0) AS BIGINT),
                 'qty', CAST(l_quantity AS BIGINT),
                 'flag', l_returnflag) AS line""")
          .groupBy("l_orderkey")
          .agg(collect_list("line").as("lines"))
          .localCheckpoint() // every lambda below reads the nest once
        nested.selectExpr(
            "size(lines) AS n_lines",
            """aggregate(lines, 0L, (acc, x) -> acc + x.cents)
               AS order_cents""",
            """size(filter(lines, x -> x.flag = 'R')) AS n_returned""")
          .groupBy("n_lines")
          .agg(count(lit(1)).as("n_orders"),
            sum("order_cents").as("sum_cents"),
            sum("n_returned").as("n_returned"))
          .orderBy("n_lines")
      },
      Some("""
        SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(order_cents) AS BIGINT) AS sum_cents,
               CAST(sum(n_returned) AS BIGINT) AS n_returned
        FROM (
          SELECT l_orderkey, count(*) AS n_lines,
                 SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS order_cents,
                 SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS n_returned
          FROM lineitem GROUP BY 1) per
        GROUP BY n_lines ORDER BY n_lines""")),

    QueryDef(
      "q421_snapshot_rollback",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_rollback_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = Tables(s, d, "orders").selectExpr("o_orderkey AS k",
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents",
          "CAST(0 AS BIGINT) AS v")
        base.write.mode("overwrite").parquet(s"$root/v0")
        markSuccess(root, 0L)
        // the bad commit: a fat-fingered 100× reprice of every 3rd key
        graft.sources.Sinks.mergeSnapshot(
          base.filter(pmod(col("k"), lit(3)) === 0)
            .withColumn("cents", col("cents") * 100)
            .withColumn("v", lit(1L)),
          root, Seq("k"), "v", version = 1L)
        // rollback: re-commit v0's CONTENT as the new head v2
        graft.sources.Sinks.readSnapshot(s, root, version = 0L)
          .write.mode("overwrite").parquet(s"$root/v2")
        markSuccess(root, 2L)
        graft.sources.Sinks
          .readSnapshot(s, root,
            graft.sources.Sinks.snapshotVersions(root).last)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders""")),
  )

  private def markSuccess(root: String, v: Long): Unit = {
    val p = java.nio.file.Paths.get(s"$root/v$v/_SUCCESS")
    if (!java.nio.file.Files.exists(p)) {
      java.nio.file.Files.createFile(p); ()
    }
  }
}
