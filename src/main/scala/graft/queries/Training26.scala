package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.sources.Sinks

/** Twenty-sixth wave: the rest of the table-maintenance loop around the
  * versioned-snapshot commit log (q232 proved time travel; these close
  * CDC and retention).
  *
  * q233 is `table_changes(from, to)` — the incremental read every
  * downstream consumer of an upserted table wants instead of a full
  * re-scan: one full-outer join of two immutable version directories,
  * classified insert/update/delete with old/new images, unchanged rows
  * dropped by a codegen'd null-safe compare BEFORE anything else runs.
  * The harness chain commits updates (re-priced keys) and inserts (new
  * keys), so the change set is a pure function of `orders` and the
  * oracle replays it straight from the base table. The `delete` branch
  * of the classifier is exercised by SinksSpec with a hand-built chain
  * (the upsert-only mergeSnapshot never produces one).
  *
  * q234 is the retention plan — the review-before-delete table a vacuum
  * runs from: one row per committed version with its row count and the
  * keep-latest-N expire flag. Row counts are parquet metadata reads
  * (count-star over a snapshot never scans data). The destructive half,
  * `Sinks.vacuumSnapshots`, is spec-only by design: a DECLARED query
  * must be re-runnable, and one that deletes history is not.
  */
object Training26 {
  /** Base orders projection + a literal version column. */
  private def ordersV(s: SparkSession, d: String, v: Long): DataFrame =
    Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("v", lit(v))

  val defs: Seq[QueryDef] = Seq(

    // ---- CDC read between snapshot versions: commit v0 = orders, v1 =
    // MERGE of re-priced updates (%10 keys, price doubled) plus NEW
    // keys (%100 keys shifted by 10M — inserts), then read the change
    // stream v0→v1. Exactly the updates and inserts come back, with
    // old/new price images; the table-sized unchanged mass never
    // leaves the join.
    QueryDef(
      "q233_table_changes",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_cdc_${Integer.toHexString(d.hashCode)}").toString
        // own scratch dir: deterministic v0→v1 chain per run
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = ordersV(s, d, 0L)
        base.write.mode("overwrite").parquet(s"$root/v0")
        val updates = base
          .filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val inserts = base
          .filter(pmod(col("o_orderkey"), lit(100)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        Sinks.mergeSnapshot(
          updates.unionAll(inserts).withColumn("v", lit(1L)),
          root, Seq("o_orderkey"), "v", version = 1L)
        Sinks.snapshotChanges(s, root, 0L, 1L, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("change_type"),
            col("old_o_totalprice").as("old_price"),
            col("new_o_totalprice").as("new_price"))
      },
      Some("""
        SELECT o_orderkey, 'update' AS change_type,
               o_totalprice AS old_price,
               o_totalprice * 2 AS new_price
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'insert',
               CAST(NULL AS DOUBLE), o_totalprice
        FROM orders WHERE o_orderkey % 100 = 0""")),

    // ---- retention plan over a three-commit chain (base, update
    // merge, insert merge) at keep-latest-2: v0 expires, v1/v2 stay.
    // n_rows per version is a pure function of `orders` (updates keep
    // the count, the insert merge adds the %100 slice), which is what
    // lets a filesystem-derived maintenance table be SQL-oracled.
    QueryDef(
      "q234_snapshot_retention",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_ret_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(root))
        val base = ordersV(s, d, 0L)
        base.write.mode("overwrite").parquet(s"$root/v0")
        Sinks.mergeSnapshot(
          base.filter(pmod(col("o_orderkey"), lit(10)) === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .withColumn("v", lit(1L)),
          root, Seq("o_orderkey"), "v", version = 1L)
        Sinks.mergeSnapshot(
          base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("v", lit(2L)),
          root, Seq("o_orderkey"), "v", version = 2L)
        Sinks.retentionPlan(s, root, keepLast = 2)
      },
      Some("""
        WITH n AS (SELECT count(*) AS c FROM orders),
        i AS (SELECT count(*) AS c FROM orders WHERE o_orderkey % 100 = 0)
        SELECT CAST(0 AS BIGINT) AS version, n.c AS n_rows, TRUE AS expire
        FROM n
        UNION ALL SELECT 1, n.c, FALSE FROM n
        UNION ALL SELECT 2, n.c + i.c, FALSE FROM n, i""")),
  )
}
