package graft.wafer

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.Num
import graft.operators.IqrOutlierFilter

/** The wafer-defect pipeline, Spark-first: lazy DataFrame→DataFrame
  * stages replacing the reference's eager pandas copies
  * (/root/reference/main.py:14-132, src/preprocessing.py:46-283).
  *
  * Reference-shape mapping (SURVEY.md §2):
  *   - loadCsv            ← A1-A4 DataLoader (+ the schema validation the
  *                          reference README promises but never ships)
  *   - removeOutliersByClass ← G7 per-Class sequential IQR
  *   - addEngineeredFeatures ← F1-F4 (inf-scrub asymmetry preserved)
  *   - runKMeansByStep    ← G1-G4 per-step scale+cluster+write-back
  *   - labelKillerDefects ← G5/F8 rule labeler
  *   - preprocess         ← G6 togglable composer
  *   - summary            ← I console report aggregates (D4-D10)
  *
  * Scale: stages compose lazily into one Catalyst plan; callers should
  * cache() the post-outlier frame when running the full pipeline (the
  * one reused intermediate). The only driver-side materializations are
  * the per-group quantile bounds (tiny) and the fitted K-Means models,
  * exactly the two forced action points SURVEY.md §3 identifies.
  */
object WaferPipeline {

  /** CSV ingest with the declared 25-column schema (A1). Fails fast on
    * missing path (AnalysisException) and empty input, mirroring
    * data_loader.py:42-48.
    */
  def loadCsv(spark: SparkSession, path: String, encoding: String = "UTF-8"): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("encoding", encoding)
      .schema(WaferSchema.inputSchema)
      .csv(path)
    if (df.isEmpty) throw new IllegalArgumentException(s"empty dataset: $path")
    df
  }

  /** Assert a frame still carries the expected columns+types — the
    * per-stage "Schema Validator" (README.md:60).
    */
  def validateSchema(df: DataFrame, expected: StructType): DataFrame = {
    val got = df.schema.map(f => f.name -> f.dataType).toMap
    val missing = expected.filterNot(f => got.get(f.name).contains(f.dataType))
    require(missing.isEmpty,
      s"schema validation failed; missing/mismatched: ${missing.map(_.name).mkString(",")}")
    df
  }

  /** G7: per-Class sequential upper-IQR outlier removal over the three
    * size columns. Null-Class rows are dropped (pandas groupby
    * semantics, preprocessing.py:93 — documented reference behavior).
    */
  def removeOutliersByClass(
      df: DataFrame,
      iqrMultiplier: Double = 1.5,
      exact: Boolean = true): DataFrame =
    IqrOutlierFilter(df, Seq("Class"), WaferSchema.sizeCols, k = iqrMultiplier,
      exact = exact)

  /** IEEE division semantics matching pandas: x/0 → ±inf (or NaN for
    * 0/0), null propagates. Spark ANSI mode would throw on /0, and
    * non-ANSI returns null — neither matches, so branch explicitly.
    * The 0-denominator branch is only reached when the epsilon-shifted
    * denominator is exactly 0 (input == -1e-6).
    */
  private def ieeeDiv(num: Column, den: Column): Column =
    // null-first: a null DENOMINATOR must propagate null (pandas
    // x/NaN = NaN = missing) — the bare `den =!= 0.0` guard evaluates
    // null on it and would fall into the zero-denominator branch,
    // fabricating ±Infinity for a missing input
    when(num.isNull || den.isNull, lit(null))
      .when(den =!= 0.0, num / den)
      .otherwise(
        when(num > 0.0, lit(Double.PositiveInfinity))
          .when(num < 0.0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN))) // num == 0.0

  /** ±inf/NaN → null scrub (F3/F4's post-division cleanup,
    * preprocessing.py:145,149 — pandas replaces ±inf with NaN; our
    * missing marker is null).
    */
  private def scrub(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null))
      .otherwise(c)

  /** F1-F4: four engineered ratio features (preprocessing.py:115-151).
    * F1/F2 intentionally keep ±inf; F3/F4 scrub to null — asymmetry is
    * reference behavior (SURVEY.md §2 F).
    */
  def addEngineeredFeatures(df: DataFrame): DataFrame = df
    .withColumn("SNR_OFFSET_GL",
      ieeeDiv(col("MDAT_OFFSET"), col("MDAT_GL") + lit(1e-6)))
    .withColumn("SNR_INTENSITY_NOISE",
      ieeeDiv(col("INTENSITY"), col("PATCHNOISE") + lit(1e-6)))
    .withColumn("ASPECT_RATIO",
      scrub(ieeeDiv(col("SIZE_X"), col("SIZE_Y") + lit(1e-6))))
    .withColumn("DENSITY_SIGNAL",
      scrub(ieeeDiv(col("INTENSITY"), col("DEFECT_AREA") + lit(1e-6))))

  /** Driver-side seeded Lloyd's over collected z-vectors — the
    * small-subset fit path of [[runKMeansByStep]]. Deterministic and
    * partition-invariant: rows are iterated in row-id order (float sums
    * see one fixed order), initial centers are the first k DISTINCT
    * vectors under a seed-mixed hash ranking of row ids, nearest-center
    * ties break to the lower cluster index, and an emptied cluster
    * keeps its previous center (standard Lloyd's). ≤ 20 iterations or
    * assignment fixpoint, matching the MLlib defaults it replaces.
    */
  private def localKMeansLabels(
      spark: SparkSession, rows: Array[(Long, Array[Double])],
      k: Int, seed: Long): DataFrame = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val dim = sorted(0)._2.length
    def mix(id: Long): Long = {
      var x = id + seed * -7046029254386353131L
      x = (x ^ (x >>> 30)) * -4658895280553007687L
      x = (x ^ (x >>> 27)) * -7723592293110705685L
      x ^ (x >>> 31)
    }
    val ranked = sorted.sortBy(r => (mix(r._1), r._1))
    val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var ri = 0
    while (init.length < k && ri < n) {
      val v = ranked(ri)._2
      if (!init.exists(_.sameElements(v))) init += v.clone()
      ri += 1
    }
    while (init.length < k) init += init.head.clone() // < k distinct points
    val centers = init.toArray
    val assign = Array.fill(n)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < 20) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < dim) {
            val t = sorted(i)._2(j) - centers(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { changed = true; assign(i) = best }
        i += 1
      }
      val sums = Array.fill(k, dim)(0.0)
      val cnts = Array.fill(k)(0L)
      var i2 = 0
      while (i2 < n) {
        val c = assign(i2); cnts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sorted(i2)._2(j); j += 1 }
        i2 += 1
      }
      var c2 = 0
      while (c2 < k) {
        if (cnts(c2) > 0) {
          var j = 0
          while (j < dim) { centers(c2)(j) = sums(c2)(j) / cnts(c2); j += 1 }
        }
        c2 += 1
      }
      iter += 1
    }
    import spark.implicits._
    sorted.indices.map(i => (sorted(i)._1, assign(i)))
      .toDF("__row_id", "KMeans_Cluster")
  }

  /** G1-G4: per-step K-Means over z-scored features, labels joined back
    * by row id (the Spark replacement for pandas index write-back,
    * preprocessing.py:153-208).
    *
    * Parity decisions (SURVEY.md §7.4):
    *   - z-score is computed with population std (ddof=0) from exact
    *     decimal moments — sklearn StandardScaler parity, deterministic
    *     across shuffle orders; constant features scale by 1 like
    *     sklearn;
    *   - MLlib KMeans(seed) replaces sklearn's n_init=10 restarts;
    *     cluster ids are arbitrary in both — correctness is structural
    *     (§5.3), not id-equal;
    *   - per-step subsets at or under
    *     `spark.graft.wafer.kmeansLocalLimit` (default 500k rows; 0
    *     disables) fit via a driver-side seeded Lloyd's over the
    *     collected z-vectors ([[localKMeansLabels]]) — see the dispatch
    *     comment in the body; the distributed MLlib path is the shape
    *     past the limit.
    */
  def runKMeansByStep(
      df: DataFrame,
      steps: Seq[String] = WaferSchema.defaultSteps,
      k: Int = 2,
      seed: Long = 42L,
      features: Seq[String] = WaferSchema.clusterFeatures): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = df.sparkSession
    val withId = df.withColumn("__row_id", monotonically_increasing_id()).cache()
    withId.count() // materialize once before the per-step jobs race for it
    def fitStep(step: String): Option[DataFrame] = {
      val subset = withId
        .filter(col("IS_DEFECT") === "REAL" && col("Step_desc") === step)
        .na.drop("any", features)
      val aggs = features.flatMap(f => Seq(
        (Num.dsum(col(f)) / count(col(f))).as(s"__m_$f"),
        (Num.dsum(col(f) * col(f)) / count(col(f))).as(s"__msq_$f")))
      val zCols = features.map { f =>
        val m = col(s"__m_$f")
        val sd = sqrt(col(s"__msq_$f") - col(s"__m_$f") * col(s"__m_$f"))
        ((col(f) - m) / when(sd === 0.0 || sd.isNull, lit(1.0)).otherwise(sd)).as(s"__z_$f")
      }
      val scaled = subset.crossJoin(broadcast(subset.agg(aggs.head, aggs.tail: _*)))
        .select((col("__row_id") +: zCols): _*)
      val localLimit = spark.conf
        .get("spark.graft.wafer.kmeansLocalLimit", "500000").toLong
      // Small-subset dispatch (the cc.localLimit discipline, applied
      // to the fit): an MLlib fit on a per-step subset this size is
      // ~20 scheduled jobs whose wall is task-launch floors and
      // whose scheduling noise was the widest band in every driver
      // bench — while the same Lloyd's iterations over the collected
      // z-vectors (≤ 500k × 8 doubles ≈ 36 MB) are milliseconds of
      // driver compute, deterministic and partition-invariant by
      // construction (rows iterated in row-id order, seeded
      // hash-ranked init). Cluster ids are arbitrary under BOTH
      // paths (correctness is structural, §5.3). Past the limit the
      // distributed MLlib path below runs unchanged — the 100 TB
      // shape, where per-step subsets are billions of rows.
      // The probe IS the fetch (componentsDispatch discipline): one
      // limit-pushed collect both sizes the subset and, when it fits,
      // delivers the fit input — no separate count job, and the
      // dispatch path never materializes a cache it reads only once.
      val probe =
        if (localLimit > 0 && localLimit < Int.MaxValue - 1)
          Some(scaled.limit(localLimit.toInt + 1).collect())
        else None
      probe match {
        case Some(rows) if rows.isEmpty => None
        case Some(rows) if rows.length <= localLimit =>
          val vecs = rows.map(r => (r.getLong(0),
            Array.tabulate(features.size)(j => r.getDouble(j + 1))))
          Some(localKMeansLabels(spark, vecs, k, seed))
        case _ =>
          // cache the z-scored vectors: the fit is iterative and would
          // otherwise re-evaluate the whole upstream plan once per pass
          val cached = scaled.cache()
          try {
            val cnt = cached.count()
            if (cnt == 0) None
            else {
              val fitInput = cached
                .withColumn("__fv",
                  array_to_vector(array(features.map(f => col(s"__z_$f")): _*)))
                // one partition per ~500k rows (floor 1): each iteration is
                // a handful of tasks, large subsets keep their parallelism
                .coalesce(math.max(1L, math.min(
                  cached.rdd.getNumPartitions.toLong, cnt / 500000L + 1)).toInt)
                .cache()
              try {
                // random init (seed-pinned): k-means||'s multi-round
                // distributed seeding is pure scheduling overhead at these
                // subset sizes, and cluster ids are permutation-arbitrary
                // either way (correctness is structural, §5.3)
                val model = new KMeans()
                  .setK(k).setSeed(seed).setInitMode("random")
                  .setFeaturesCol("__fv").setPredictionCol("__cluster")
                  .fit(fitInput)
                val labels = model.transform(fitInput).select(col("__row_id"),
                  col("__cluster").cast(IntegerType).as("KMeans_Cluster"))
                  .localCheckpoint() // materialize so fit input can be freed
                Some(labels)
              } finally fitInput.unpersist()
            }
          } finally cached.unpersist()
      }
    }
    // Steps are independent → fit them concurrently: each fit is a
    // latency-bound chain of jobs, so overlapping the three chains is
    // genuine throughput (same-box A/B, r13: sequential wafer median
    // 5.38 s vs concurrent 2.66 s). Fits are per-step independent and
    // seed-pinned, so the order they finish in changes no assignment.
    val labelParts = Await.result(
      Future.sequence(steps.map(step => Future(fitStep(step)))),
      Duration.Inf).flatten
    val out =
      if (labelParts.isEmpty)
        withId.withColumn("KMeans_Cluster", lit(null).cast(IntegerType))
      else {
        val labels = labelParts.reduce(_ unionByName _)
        withId.join(labels, Seq("__row_id"), "left")
      }
    // materialize, then free the withId cache: the returned lazy plan
    // references it, so without this every pipeline run in a session
    // leaks a cached copy of the full input (the operator already
    // forces actions internally — fits, counts — so eagerness here
    // changes nothing observable)
    val result = out.drop("__row_id").localCheckpoint()
    withId.unpersist()
    result
  }

  /** G5/F8: rule-based killer labeling — the reference's row loop folded
    * into one chained-when expression (preprocessing.py:210-243).
    */
  def labelKillerDefects(
      df: DataFrame,
      mapping: Map[String, Int] = WaferSchema.killerClusterMapping): DataFrame = {
    val flag = mapping.toSeq.sortBy(_._1).foldLeft(lit(false)) {
      case (acc, (step, cluster)) =>
        when(col("IS_DEFECT") === "REAL" && col("Step_desc") === step &&
          col("KMeans_Cluster") === cluster, lit(true)).otherwise(acc)
    }
    df.withColumn("is_killer_defect", flag)
  }

  /** G6: togglable 4-stage composer (preprocessing.py:245-283). */
  /** exactQuantiles=false switches the outlier stage to t-digest
    * approx_percentile — the 100 TB path: single-pass, mergeable,
    * bounded memory, vs exact percentile which buffers every group
    * value (measured 55s of a 68s run at 6.4M rows, <2s approx).
    */
  def preprocess(
      df: DataFrame,
      removeOutliers: Boolean = true,
      addFeatures: Boolean = true,
      runClustering: Boolean = true,
      labelKiller: Boolean = true,
      exactQuantiles: Boolean = true): DataFrame = {
    var out = df
    if (removeOutliers) out = removeOutliersByClass(out, exact = exactQuantiles)
    if (addFeatures) out = addEngineeredFeatures(out)
    if (runClustering) out = runKMeansByStep(out)
    if (labelKiller) out = labelKillerDefects(out)
    out
  }

  /** I: the console report's aggregates (main.py:36-151), one collected
    * summary instead of 15 separate len() calls.
    */
  case class Summary(
      rows: Long,
      nullCells: Long,
      realDefects: Long,
      falseDefects: Long,
      classes: Seq[String],
      clusterDist: Map[Option[Int], Long],
      killerCount: Long)

  def summary(df: DataFrame): Summary = {
    val cols = df.columns
    val nullCountCols = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)))
      .reduce(_ + _).as("nulls")
    val base = df.agg(
      count(lit(1)).as("rows"),
      nullCountCols,
      count(when(col("IS_DEFECT") === "REAL", 1)).as("real"),
      count(when(col("IS_DEFECT") === "FALSE", 1)).as("false")).head()
    val classes = df.filter(col("Class").isNotNull)
      .select("Class").distinct().orderBy("Class")
      .collect().map(_.getString(0)).toSeq
    val clusterDist =
      if (cols.contains("KMeans_Cluster"))
        df.groupBy("KMeans_Cluster").count().collect()
          .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> r.getLong(1))
          .toMap
      else Map.empty[Option[Int], Long]
    val killer =
      if (cols.contains("is_killer_defect"))
        df.filter(col("is_killer_defect")).count()
      else 0L
    Summary(base.getLong(0), base.getLong(1), base.getLong(2), base.getLong(3),
      classes, clusterDist, killer)
  }

  /** A5: CSV export. coalesce(1) mirrors the reference's single-file
    * output for operator hand-off — only sane for small exports; at
    * scale callers write partitioned parquet instead.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
