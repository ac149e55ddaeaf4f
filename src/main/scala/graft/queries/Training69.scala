package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sixty-ninth wave — exactly-once recovery and dynamic partition
  * pruning:
  *
  *  - q374: streaming CHECKPOINT RECOVERY — a file stream is stopped
  *    after its first batch and a NEW query restarts from the same
  *    checkpoint: already-committed batches must not re-emit and new
  *    data must not be lost. The emitted union equaling the batch
  *    census IS the exactly-once property.
  *  - q375: DYNAMIC partition pruning — a fact table partitioned by
  *    priority joined to a filtered dimension: the partitions to scan
  *    are only known at RUNTIME (from the dim filter), and Spark's DPP
  *    turns the dim's broadcast result into a partition filter on the
  *    fact scan (PlanSpec pins the dynamicpruning subquery in the
  *    plan). At 100 TB this is the difference between scanning 2/5 of
  *    the fact and all of it.
  */
object Training69 {
  val defs: Seq[QueryDef] = Seq(

    // ---- checkpoint recovery: file0 (orders as an append stream of
    // (key, priority) rows) is processed by query 1 into a parquet
    // file sink, which stops; file1 arrives; query 2 restarts FROM THE
    // SAME CHECKPOINT and sink path. Recovery semantics: query 2's
    // source offsets resume after file0, so the sink gains ONLY
    // file1's rows — no replay (file0 committed in _spark_metadata),
    // no loss (file1 pending). The declared output is the census of
    // the recovered sink, which must equal the plain batch census of
    // both files — the oracle; a replay would double counts, a loss
    // would drop keys.
    QueryDef(
      "q374_stream_checkpoint_recovery",
      (s, d) => {
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_ckpt_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(stage))
        val streamDir = s"$stage/stream"
        val ckpt = s"$stage/checkpoint"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(streamDir))
        val base = Tables(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"))
        def writeFile(df: DataFrame, name: String): Unit = {
          val tmp = s"$stage/tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file in $tmp"))
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(streamDir, s"$name.parquet"))
          ()
        }
        // the PARQUET file sink is the fault-tolerant half of the
        // exactly-once pair (the memory sink refuses checkpoint
        // recovery by design): its _spark_metadata commit log records
        // which files each batch wrote, and the checkpoint records
        // which source offsets each batch consumed — restart resumes
        // after both.
        val outDir = s"$stage/out"
        def runOnce(): Unit = {
          val schema = s.read.parquet(streamDir).schema
          val q = s.readStream.schema(schema).parquet(streamDir)
            .writeStream.outputMode("append").format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckpt)
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        writeFile(base.filter(col("k") % 2 === 0), "f0")
        runOnce()
        writeFile(base.filter(col("k") % 2 === 1), "f1")
        runOnce()
        s.read.parquet(outDir)
          .groupBy("pri")
          .agg(count(lit(1)).as("n"), countDistinct("k").as("n_keys"))
          .orderBy("pri")
      },
      Some("""
        SELECT o_orderpriority AS pri, count(*) AS n,
               count(DISTINCT o_orderkey) AS n_keys
        FROM orders GROUP BY 1 ORDER BY pri""")),

    // ---- dynamic partition pruning: the fact is WRITTEN partitioned
    // by priority (the layout decision), the dimension's selective
    // predicate (tier = 'hot' ⇒ priorities 1 and 2) is only resolvable
    // at runtime, and DPP injects the dim's broadcast values as a
    // partition filter on the fact scan — 2 of 5 partition directories
    // read, zero query-author involvement. The staging root is
    // per-sfDir and built once (idempotent _SUCCESS check).
    QueryDef(
      "q375_dynamic_partition_pruning",
      (s, d) => {
        val root = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_dpp_${graft.Stage.key(d, "orders")}").toString
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(root, "_SUCCESS"))) {
          Tables(s, d, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority").parquet(root)
        }
        val facts = s.read.parquet(root)
        val dim = Tables(s, d, "orders")
          .select(col("o_orderpriority").as("pri")).distinct()
          .withColumn("tier",
            when(col("pri") < "3", lit("hot")).otherwise(lit("cold")))
        facts.join(broadcast(dim.filter(col("tier") === "hot")),
            facts("o_orderpriority") === col("pri"))
          .groupBy("pri")
          .agg(count(lit(1)).as("n_orders"),
            graft.Num.dsum(col("o_totalprice")).as("revenue"))
          .orderBy("pri")
      },
      Some(s"""
        SELECT o_orderpriority AS pri, count(*) AS n_orders,
               ${graft.Num.dsumSql("o_totalprice")} AS revenue
        FROM orders WHERE o_orderpriority < '3'
        GROUP BY 1 ORDER BY pri""")),
  )
}
