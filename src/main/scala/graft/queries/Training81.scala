package graft.queries

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.sources.Sinks

/** Eighty-first wave — runtime bloom-filter pruning and idempotent
  * streaming sinks:
  *
  *  - q408: runtime bloom-filter injection — a selective dim predicate
  *    makes the optimizer build a bloom filter from the dim's join
  *    keys at RUNTIME and push `BloomFilterMightContain` into the fact
  *    scan (InjectRuntimeFilter), discarding non-joining fact rows
  *    BEFORE the shuffle. The row-level sibling of q375's partition
  *    pruning: DPP skips directories, the bloom filter skips rows —
  *    at 100 TB the difference between shuffling the whole fact and
  *    shuffling the 20% that can join. Spec pins the filter in the
  *    plan; the declared census is plan-independent.
  *  - q409: idempotent foreachBatch sink — each microbatch MERGEs into
  *    the CAS-versioned snapshot store under a BATCH-ID LEDGER guard;
  *    a simulated duplicate delivery of the last batch is dropped by
  *    the guard (and would be value-idempotent under the keyed merge
  *    anyway — two independent defenses). The exactly-once SINK
  *    pattern that pairs with q374's exactly-once SOURCE recovery.
  */
object Training81 {
  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q408_runtime_bloom_filter",
      (s, d) => {
        val conf = s.conf
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.optimizer.runtime.bloomFilter.enabled",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        val saved = keys.map(k => k -> conf.getOption(k))
        try {
          conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
          conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
          conf.set("spark.sql.optimizer.runtime.bloomFilter." +
            "applicationSideScanSizeThreshold", "1KB")
          bloomJoin(s, d).localCheckpoint(true)
        } finally saved.foreach { case (k, v) =>
          v.fold(conf.unset(k))(conf.set(k, _))
        }
      },
      Some("""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1 ORDER BY l_returnflag""")),

    QueryDef(
      "q409_stream_foreachbatch_cas",
      (s, d) => {
        val stage = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"),
          s"graft_febcas_${Integer.toHexString(d.hashCode)}").toString
        FileUtils.deleteQuietly(new java.io.File(stage))
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$stage/in"))
        val snapRoot = s"$stage/snap"
        val ledger = java.nio.file.Paths.get(s"$stage/ledger")
        java.nio.file.Files.createDirectories(ledger)
        Tables(s, d, "orders").selectExpr("o_orderkey AS k",
            "o_orderpriority AS pri",
            "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents",
            "CAST(0 AS BIGINT) AS v")
          .repartition(3)
          .write.mode("overwrite").parquet(s"$stage/in")
        // the guarded apply: ledger check → CAS merge → ledger record
        def applyBatch(df: DataFrame, batchId: Long): Unit = {
          val mark = ledger.resolve(s"batch-$batchId")
          if (!java.nio.file.Files.exists(mark)) {
            Sinks.casMergeSnapshot(df, snapRoot,
              keyCols = Seq("k"), versionCol = "v")
            java.nio.file.Files.createFile(mark)
            ()
          }
        }
        val schema = s.read.parquet(s"$stage/in").schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$stage/in")
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$stage/ckpt")
          .foreachBatch(applyBatch _)
          .start()
        try q.processAllAvailable() finally q.stop()
        // duplicate delivery of batch 0 (full payload): the ledger
        // drops it — no new snapshot version (spec-pinned), and even a
        // broken guard would be value-idempotent under the keyed merge
        applyBatch(s.read.parquet(s"$stage/in"), 0L)
        val latest = Sinks.snapshotVersions(snapRoot).last
        Sinks.readSnapshot(s, snapRoot, latest)
          .groupBy("pri")
          .agg(count(lit(1)).as("n"), countDistinct("k").as("n_keys"),
            sum("cents").as("sum_cents"))
          .orderBy("pri")
      },
      Some("""
        SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders GROUP BY 1 ORDER BY pri""")),
  )

  /** The q408 join body, shared with the spec's plan pin. */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem").select("l_orderkey", "l_returnflag",
      "l_extendedprice")
    val ord = Tables(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
          .as("cents"))
      .orderBy("l_returnflag")
  }
}
