package graft.sources

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Write-side layout strategies as a library surface. Each wraps the
  * plain DataFrameWriter API with the layout decision that matters at
  * 100 TB:
  *
  *   - partitioned: coarse, low-cardinality columns → partition
  *     pruning at the file index (SourcesSpec proves the pruned scan);
  *   - bucketed: pre-shuffled-on-disk join/agg keys → co-located
  *     SortMergeJoin with zero exchanges;
  *   - sorted-within-partitions: clusters values inside each file so
  *     parquet row-group min/max stats actually skip (a random layout
  *     makes every row group's [min,max] span everything).
  *
  * `streamUpsert` closes the streaming loop: each microbatch MERGEs
  * into a key-deduped snapshot (latest version wins). Without an ACID
  * table format offline, snapshots are versioned directories — batch
  * N+1 reads snapshot N and writes snapshot N+1, never overwriting
  * what it reads; `readLatestSnapshot` resolves the newest complete
  * one. On a real deployment the body of the foreachBatch is a Delta/
  * Iceberg MERGE INTO and everything else stays identical.
  */
object Sinks {

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def writeBucketedTable(
      df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol).saveAsTable(table)

  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** One MERGE step (the body of a streamUpsert microbatch, exposed for
    * batch callers): union `incoming` with the latest complete snapshot
    * under `snapshotRoot` (if any), keep the highest-`versionCol` row
    * per key (ties broken toward the incoming batch), and write the
    * result as snapshot directory `v<version>` — never overwriting what
    * it reads, which is what makes every older version remain readable
    * (time travel, [[readSnapshot]]).
    */
  def mergeSnapshot(
      incoming: DataFrame, snapshotRoot: String,
      keyCols: Seq[String], versionCol: String, version: Long): Unit = {
    val spark = incoming.sparkSession
    val in = incoming.withColumn("__src", lit(1))
    // merge against the newest version STRICTLY BELOW the one being
    // written, never latest-overall: a microbatch retry (crash between
    // snapshot commit and checkpoint commit) re-runs with the same
    // `version`, and reading latest would read v<version> itself while
    // overwriting it — "cannot overwrite a path being read from", a
    // permanently wedged stream. Against v<version-1> the retry is a
    // byte-identical idempotent recompute of v<version>.
    val merged = snapshotVersions(snapshotRoot).filter(_ < version)
      .lastOption match {
      case Some(prev) =>
        // allowMissingColumns = ADDITIVE SCHEMA EVOLUTION: a batch may
        // carry columns the snapshot has never seen (rows already
        // committed read back NULL there), and a batch that stopped
        // sending a column leaves history intact — the union schema is
        // the new table schema, exactly a table format's mergeSchema
        // commit rule. Renames/type changes stay out of scope (as they
        // do in Delta/Iceberg without an explicit ALTER).
        spark.read.parquet(s"$snapshotRoot/v$prev").withColumn("__src", lit(0))
          .unionByName(in, allowMissingColumns = true)
      case None => in
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    merged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
      .write.mode("overwrite").parquet(s"$snapshotRoot/v$version")
  }

  /** Optimistic-concurrency MERGE commit for INDEPENDENT writers (the
    * case [[mergeSnapshot]]'s fixed-version overwrite is wrong for:
    * that one exists for streamUpsert's microbatch retries, where
    * re-writing the SAME version id must be idempotent). Protocol per
    * attempt: read the latest committed version L, merge `incoming`
    * onto it, stage the result to a hidden tmp directory, then CLAIM
    * v{L+1} with one atomic directory rename — the filesystem analogue
    * of a table format's conditional put. If another writer claimed
    * v{L+1} first the rename fails, the stale merge is discarded, and
    * the commit retries ON TOP OF THE WINNER — so concurrent commits
    * serialize and neither's delta is lost. Readers are never exposed
    * to a torn version: the rename is atomic and `_SUCCESS` rides
    * inside the staged directory.
    *
    * Returns the committed version. Throws after `maxRetries` lost
    * races (livelock guard — at that point the caller is contending
    * with a faster writer and should back off).
    */
  def casMergeSnapshot(
      incoming: DataFrame, snapshotRoot: String,
      keyCols: Seq[String], versionCol: String, maxRetries: Int = 5): Long = {
    val spark = incoming.sparkSession
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(snapshotRoot))
    var attempt = 0
    while (attempt < maxRetries) {
      val latest = snapshotVersions(snapshotRoot).lastOption
      val next = latest.map(_ + 1).getOrElse(0L)
      val in = incoming.withColumn("__src", lit(1))
      val merged = latest match {
        case Some(v) =>
          // same additive schema evolution as mergeSnapshot
          spark.read.parquet(s"$snapshotRoot/v$v").withColumn("__src", lit(0))
            .unionByName(in, allowMissingColumns = true)
        case None => in
      }
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(versionCol).desc, col("__src").desc)
      val tmp = s"$snapshotRoot/.stage-${java.util.UUID.randomUUID().toString.take(8)}"
      merged
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__src")
        .write.mode("overwrite").parquet(tmp)
      if (claimVersion(snapshotRoot, tmp, next)) return next
      attempt += 1
    }
    sys.error(s"casMergeSnapshot: lost the commit race $maxRetries times under $snapshotRoot")
  }

  /** Atomically claim version `next` by renaming the staged directory
    * into place. False (with the stage cleaned up) if another writer
    * claimed it first — the conflict-detection primitive casMerge
    * retries on.
    */
  private[sources] def claimVersion(root: String, stagedDir: String, next: Long): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    try {
      Files.move(Paths.get(stagedDir), Paths.get(s"$root/v$next"),
        StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case e: java.nio.file.FileSystemException =>
        // a lost race surfaces as FileAlreadyExistsException OR (Linux
        // rename(2) ENOTEMPTY under ATOMIC_MOVE) a GENERIC
        // FileSystemException "Directory not empty" — so discriminate
        // by the ground truth instead of the exception type: if the
        // target version now exists, another writer won; anything else
        // (EACCES, disk full, cross-device) is a real IO failure and
        // must propagate, not burn five silent re-merges into a
        // misleading "lost the commit race" error
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$root/v$next"))) throw e
        // lost the race: discard the stale stage; the caller re-reads
        // latest and re-merges
        FileUtils.deleteQuietly(new java.io.File(stagedDir))
        false
    }
  }

  /** Streaming MERGE-upsert sink: per microbatch, one [[mergeSnapshot]]
    * step at version = batchId.
    */
  def streamUpsert(
      stream: DataFrame, checkpoint: String, snapshotRoot: String,
      keyCols: Seq[String], versionCol: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeSnapshot(batch, snapshotRoot, keyCols, versionCol, batchId)
        ()
      }
      .start()

  /** Compact a parquet directory to ~`targetFileBytes` files — the
    * maintenance pass every long-running upsert/streaming sink needs:
    * each microbatch writes at least one file per task, so a snapshot
    * accumulates small files and every downstream scan pays one task +
    * one footer read per file. Rewrites through `coalesce` (a shuffle-
    * free partition merge — compaction is IO-bound, never worth a
    * shuffle) unless `sortCols` is given, in which case rows are
    * re-clustered (repartition + sortWithinPartitions) so parquet
    * row-group min/max stats skip again after the rewrite.
    *
    * Swap is write-aside-then-rename via the Hadoop FileSystem API (the
    * same code path works on HDFS/S3A on a real cluster): the original
    * directory is never overwritten in place while being read. Readers
    * racing the final rename see the old or the new directory, not a
    * mix — the offline stand-in for an ACID table format's commit, same
    * caveat as streamUpsert.
    *
    * Returns (filesBefore, filesAfter); no-op if already at or below
    * the target count.
    */
  def compactSnapshot(
      spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(target)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val nBefore = dataFiles.length
    val totalBytes = dataFiles.map(_.getLen).sum
    val nAfter = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (nAfter >= nBefore) return (nBefore, nBefore)
    val df = spark.read.parquet(dir)
    val rewritten =
      if (sortCols.nonEmpty)
        df.repartition(nAfter).sortWithinPartitions(sortCols.map(col): _*)
      else df.coalesce(nAfter)
    val tmp = new Path(dir + "__compact_tmp")
    rewritten.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(dir + "__compact_old")
    if (!fs.rename(target, old)) sys.error(s"compact: cannot move $dir aside")
    if (!fs.rename(tmp, target)) { fs.rename(old, target); sys.error(s"compact: cannot swap in $tmp") }
    fs.delete(old, true)
    (nBefore, nAfter)
  }

  def readLatestSnapshot(spark: SparkSession, snapshotRoot: String): DataFrame =
    spark.read.parquet(latestSnapshotDir(snapshotRoot)
      .getOrElse(sys.error(s"no snapshot under $snapshotRoot")))

  /** All complete snapshot versions under `root`, ascending. A version
    * counts only with its `_SUCCESS` marker — a crashed writer's partial
    * directory is invisible, which is the commit protocol that makes the
    * versioned-directory scheme safe without a table format.
    */
  def snapshotVersions(root: String): Seq[Long] = {
    val d = new java.io.File(root)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.drop(1).toLong)
      .sorted
  }

  /** Time-travel read: the snapshot AS OF `version` — the newest
    * complete snapshot with version ≤ the requested one (the same
    * resolution rule as a table format's `VERSION AS OF`: asking for a
    * version between two commits reads the earlier commit). Upserts
    * never rewrite old version directories, so this is a plain pruned
    * read of one directory — no reconstruction, no log replay. On a
    * real deployment this call is Delta/Iceberg `VERSION AS OF`;
    * offline, the versioned directories ARE the commit log.
    */
  def readSnapshot(spark: SparkSession, root: String, version: Long): DataFrame = {
    val vs = snapshotVersions(root)
    val v = vs.filter(_ <= version).lastOption
      .getOrElse(sys.error(
        s"no snapshot at or before v$version under $root (have: ${vs.mkString(",")})"))
    spark.read.parquet(s"$root/v$v")
  }

  /** CDC between two snapshot versions: ONE full-outer equi-join on the
    * key columns, each side first tagged with a presence marker (so a
    * legitimately-NULL value column can never masquerade as a missing
    * row). Rows classify as `insert` (absent at fromVersion), `delete`
    * (absent at toVersion — produced when a writer with delete
    * semantics drops a key; the upsert-only mergeSnapshot never emits
    * one, but the classifier is written for the full contract), or
    * `update` (present in both with ANY value column changed,
    * null-safely compared). Unchanged rows are dropped — on a real
    * deployment this is `table_changes(from, to)`; here it is derived
    * from the immutable version directories, so it works for ANY two
    * committed versions, not just adjacent ones. Value columns come
    * back as old_<c> / new_<c> pairs beside the keys.
    *
    * Scale shape: one shuffle join keyed on the table key; the
    * unchanged-row filter is a codegen'd null-safe conjunction, so the
    * output is change-sized, not table-sized, before anything else
    * runs.
    */
  def snapshotChanges(
      spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String]): DataFrame = {
    val a = readSnapshot(spark, root, fromVersion)
    val b = readSnapshot(spark, root, toVersion)
    // value columns = UNION of both snapshots' schemas (additive schema
    // evolution means either side may carry columns the other predates;
    // a from-side-only list would silently drop changes in added
    // columns and crash selecting removed ones) — a missing side reads
    // as null, exactly how the evolved snapshot itself reads back
    val valCols = (a.columns ++ b.columns).distinct
      .filterNot(keyCols.contains).toSeq
    def side(df: DataFrame, marker: String, pfx: String) = df.select(
      (keyCols.map(col) :+ lit(1).as(marker)) ++
        valCols.map(c =>
          (if (df.columns.contains(c)) col(c) else lit(null))
            .as(s"$pfx$c")): _*)
    val oldDf = side(a, "__in_old", "old_")
    val newDf = side(b, "__in_new", "new_")
    val changed = valCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    oldDf.join(newDf, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change_type").isNotNull)
      .drop("__in_old", "__in_new")
  }

  /** Retention plan for a snapshot chain: one row per committed version
    * with its row count and the `expire` flag under a keep-latest-N
    * policy — the table an operator reviews BEFORE [[vacuumSnapshots]]
    * deletes anything. Row counts come from parquet footer metadata
    * (a count(*) over a snapshot is a metadata read, no data scan).
    */
  def retentionPlan(spark: SparkSession, root: String, keepLast: Int): DataFrame = {
    require(keepLast >= 1, s"retention must keep at least 1 version, got $keepLast")
    import spark.implicits._
    val vs = snapshotVersions(root)
    val cut = if (vs.size > keepLast) vs(vs.size - keepLast) else Long.MinValue
    vs.map { v =>
      (v, spark.read.parquet(s"$root/v$v").count(), v < cut)
    }.toDF("version", "n_rows", "expire")
  }

  /** Expire old snapshot versions: delete every version directory the
    * keep-latest-N policy marks expired. Time-travel reads below the
    * new horizon then fail loudly (readSnapshot errors on pre-history)
    * instead of silently reading a half-deleted directory — delete is
    * directory-at-a-time and the `_SUCCESS` marker goes FIRST, so a
    * reader racing the vacuum sees either a complete version or no
    * version, never a torn one. Returns the expired versions.
    */
  def vacuumSnapshots(spark: SparkSession, root: String, keepLast: Int): Seq[Long] = {
    // pure metadata: the cut comes straight from the version listing —
    // going through retentionPlan would run its per-version row-count
    // job for numbers the vacuum never uses
    require(keepLast >= 1, s"retention must keep at least 1 version, got $keepLast")
    val vs = snapshotVersions(root)
    val cut = if (vs.size > keepLast) vs(vs.size - keepLast) else Long.MinValue
    val expired = vs.filter(_ < cut)
    expired.foreach { v =>
      val dir = new java.io.File(s"$root/v$v")
      new java.io.File(dir, "_SUCCESS").delete()
      FileUtils.deleteQuietly(dir)
    }
    expired
  }

  private def latestSnapshotDir(root: String): Option[String] =
    snapshotVersions(root).lastOption.map(v => s"$root/v$v")
}
