package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.wafer.{WaferDataGen, WaferPipeline, WaferSchema}

/** What one pass did: its timed seconds (output checks excluded), the
  * Spark jobs those seconds ran, and the operations it attempted.
  */
final case class PassResult(seconds: Double, jobs: Long, attempted: Int, failed: Int)

trait Workload {
  /** Input staging, timed as `session.stage_s` inside the set-up. */
  def stage(): Unit

  /** One timed pass plus its untimed output checks. */
  def pass(): PassResult

  /** Untimed checks made once after the last pass; returns how many of
    * the passes they fail.
    */
  def finish(): Int

  /** Per-layer counts that are not spans, by name (see [[Layers]]). */
  def counts: Map[String, Double]
}

/** WaferMain.run's sequence without its console output, over a CSV that
  * WaferDataGen writes during set-up: loadCsv → summary → the four
  * preprocess stages → validateSchema → writeCsv → summary.
  */
final class WaferWorkload(
    spark: SparkSession, tr: Tracer, rows: Long, seed: Long, work: String, corrupt: Boolean)
    extends Workload {
  private val csv = s"$work/wafer_input"
  private val out = s"$work/wafer_output"
  private val expectedColumns = 31
  // per pass: rows the output check counted, or -1 when the pass failed
  private val checked = ArrayBuffer[Long]()
  private var first: Option[Fingerprint.Value] = None
  private var rowsIn = 0L
  private var rowsKept = 0L
  private var killerRows = 0L

  def stage(): Unit =
    // fixed partition count: the generator is deterministic per (seed, parts)
    WaferDataGen.generate(spark, rows, seed, parts = 8)
      .write.mode("overwrite").option("header", "true").csv(csv)

  def pass(): PassResult = {
    val j0 = tr.jobs()
    val t0 = System.nanoTime()
    val processed = try Some(tr.span("wafer.pass") {
      val raw = tr.span("wafer.loadCsv")(WaferPipeline.loadCsv(spark, csv))
      val before = tr.span("wafer.summary_in")(WaferPipeline.summary(raw))
      val kept = tr.span("wafer.removeOutliersByClass")(WaferPipeline.removeOutliersByClass(raw))
      val feats = tr.span("wafer.addEngineeredFeatures")(WaferPipeline.addEngineeredFeatures(kept))
      val clustered = tr.span("wafer.runKMeansByStep")(WaferPipeline.runKMeansByStep(feats))
      val labelled = tr.span("wafer.labelKillerDefects")(WaferPipeline.labelKillerDefects(clustered))
      val processed = labelled.cache()
      tr.span("wafer.validateSchema")(WaferPipeline.validateSchema(processed, WaferSchema.inputSchema))
      tr.span("wafer.writeCsv")(WaferPipeline.writeCsv(processed, out))
      val after = tr.span("wafer.summary_out")(WaferPipeline.summary(processed))
      rowsIn = before.rows
      rowsKept = after.rows
      killerRows = after.killerCount
      processed
    }) catch { case e: Exception => Main.log(s"wafer pass failed: $e"); None }
    val secs = (System.nanoTime() - t0) / 1e9
    val jobs = tr.jobs() - j0
    val (seen, ok) = processed.fold((-1L, false)) { p =>
      try check(p)
      catch { case e: Exception => Main.log(s"wafer output check failed: $e"); (-1L, false) }
      finally p.unpersist(blocking = true)
    }
    checked += (if (ok) seen else -1L)
    PassResult(secs, jobs, 1, if (ok) 0 else 1)
  }

  /** Column count, the K-Means coverage rule and a fingerprint equal to
    * the first pass's; the row count is checked in [[finish]].
    */
  private def check(processed: DataFrame): (Long, Boolean) = {
    val out = if (corrupt) processed.filter(col("Class") =!= "A") else processed
    val eligible = col("IS_DEFECT") === "REAL" &&
      col("Step_desc").isin(WaferSchema.defaultSteps: _*) &&
      WaferSchema.clusterFeatures.map(f => col(f).isNotNull && !isnan(col(f))).reduce(_ && _)
    val misplaced = sum(when(col("KMeans_Cluster").isNotNull =!= eligible, 1L).otherwise(0L))
    val fp = Fingerprint.aggs(out)
    val r = out.agg(fp.head, fp.tail :+ misplaced: _*).head()
    val value = Fingerprint.value(r.get(0), r.get(1), r.get(2))
    val same = first.forall(_ == value)
    if (first.isEmpty) first = Some(value)
    val columnsOk = out.columns.length == expectedColumns
    val clustersOk = r.getLong(3) == 0L
    if (!columnsOk) Main.log(s"wafer output has ${out.columns.length} columns, want $expectedColumns")
    if (!clustersOk) Main.log(s"KMeans_Cluster misplaced on ${r.getLong(3)} rows")
    if (!same) Main.log(s"wafer fingerprint $value differs from the first pass's ${first.get}")
    (value.rows, columnsOk && clustersOk && same)
  }

  /** Rows kept by a plain groupBy-percentile recomputation of the
    * per-Class sequential upper-IQR filter (Q3 + 1.5·IQR; groups with
    * fewer than two values or IQR 0 left unfiltered; null Class dropped).
    */
  private def referenceKept(): Long = {
    val raw = WaferPipeline.loadCsv(spark, csv)
    WaferSchema.sizeCols.foldLeft(raw.filter(col("Class").isNotNull)) { (cur, c) =>
      val bounds = cur.groupBy("Class")
        .agg(expr(s"percentile($c, array(0.25D, 0.75D))").as("qs"), count(col(c)).as("n"))
        .select(col("Class"), col("qs")(0).as("q1"), col("qs")(1).as("q3"), col("n"))
      cur.join(broadcast(bounds), "Class")
        .filter(col("n") < 2 || col("q3") - col("q1") === 0.0 ||
          (col(c).isNotNull && col(c) <= col("q3") + lit(1.5) * (col("q3") - col("q1"))))
        .drop("q1", "q3", "n")
    }.count()
  }

  def finish(): Int = {
    val want = referenceKept()
    val bad = checked.count(n => n >= 0 && n != want)
    if (bad > 0) Main.log(s"wafer rows kept ${checked.mkString(",")}, reference $want")
    bad
  }

  def counts: Map[String, Double] = Map(
    "wafer.rows_in" -> rowsIn.toDouble,
    "wafer.rows_kept" -> rowsKept.toDouble,
    "wafer.killer_rows" -> killerRows.toDouble)
}

/** Catalog queries ([[CatalogWorkload.queries]]) in a fixed order, each
  * built through SparkEntry.queries and forced by a noop write, over the
  * harness tables staged into Bench's multi-file layout.
  */
final class CatalogWorkload(
    spark: SparkSession, tr: Tracer, sfDir: String, work: String, expectFile: String,
    corrupt: Boolean) extends Workload {
  private val qs = graft.SparkEntry.queries
  private val expected: Map[String, Fingerprint.Value] = CatalogWorkload.readExpect(expectFile)
  private val staged = s"$work/staged_${graft.Stage.key(sfDir, CatalogWorkload.tables: _*)}"

  def stage(): Unit = CatalogWorkload.stage(spark, sfDir, staged)

  def pass(): PassResult = {
    var secs = 0.0
    var jobs = 0L
    var failed = 0
    CatalogWorkload.queries.foreach { q =>
      val j0 = tr.jobs()
      val t0 = System.nanoTime()
      // the noop write carries the output fingerprint as an observation
      val got = try Some(tr.span(s"queries.$q") {
        val df = tr.span(s"queries.$q.build")(qs(q)(spark, staged))
        val (out, fingerprint) = Fingerprint.observed(if (corrupt) df.union(df.limit(1)) else df)
        tr.span(s"queries.$q.action")(out.write.format("noop").mode("overwrite").save())
        fingerprint
      }) catch { case e: Exception => Main.log(s"$q failed: $e"); None }
      secs += (System.nanoTime() - t0) / 1e9
      jobs += tr.jobs() - j0
      val want = expected.get(q)
      val ok = got.exists { fp =>
        val v = fp()
        if (!want.contains(v)) Main.log(s"$q output $v, expected ${want.getOrElse("none")}")
        want.contains(v)
      }
      if (!ok) failed += 1
    }
    PassResult(secs, jobs, CatalogWorkload.queries.length, failed)
  }

  def finish(): Int = 0

  def counts: Map[String, Double] = Map.empty
}

object CatalogWorkload {
  /** Four of Bench's fifteen rows: a scan+aggregate control, the
    * distributed IQR filter, driver-tier K-Means, and the triangle count
    * (Bench's heaviest row).
    */
  val queries: Seq[String] = Seq(
    "q01_pricing_summary", "q22_iqr_outlier_filter", "q52_kmeans_embeddings",
    "q143_triangle_count")

  /** Bench's staging layout (files per table) for the tables these
    * queries read.
    */
  private val parts = Map("lineitem" -> 16, "embeddings" -> 16)

  val tables: Seq[String] = parts.keys.toSeq.sorted

  def stage(spark: SparkSession, sfDir: String, staged: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // the tables are small: write them concurrently so the cores are used
    Await.result(Future.traverse(parts.toSeq) { case (t, n) =>
      Future(graft.Tables(spark, sfDir, t).repartition(n)
        .write.mode("overwrite").parquet(s"$staged/$t.parquet"))
    }, Duration.Inf)
    ()
  }

  /** Expectation file: `name<TAB>rows<TAB>hash` per line, `#` comments. */
  def readExpect(path: String): Map[String, Fingerprint.Value] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split('\t')
      n -> Fingerprint.Value(rows.toLong, hash)
    }.toMap
    finally src.close()
  }
}
