package graft.wafer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class WaferPipelineSpec extends SparkSpec {
  lazy val fixture = WaferFixture.df(spark).cache()

  /** In-test reference implementation of the pandas semantics
    * (preprocessing.py:69-113): per-class sequential upper-IQR filter
    * with linear-interpolation quantiles, <2-non-null and IQR==0 skips,
    * NaN rows dropped in filtered groups, null-class rows dropped.
    */
  private def referenceOutlierFilter(
      rows: Seq[Row], classIdx: Int, colIdxs: Seq[Int]): Seq[Row] = {
    def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
      val pos = (sorted.size - 1) * p
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.size) sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
      else sorted(lo)
    }
    rows.filter(!_.isNullAt(classIdx)).groupBy(_.getString(classIdx)).flatMap {
      case (_, groupRows) =>
        var cur = groupRows
        for (ci <- colIdxs) {
          val vals = cur.filter(!_.isNullAt(ci)).map(_.getDouble(ci)).sorted.toIndexedSeq
          if (vals.size >= 2) {
            val q1 = quantile(vals, 0.25)
            val q3 = quantile(vals, 0.75)
            if (q3 - q1 != 0.0) {
              val ub = q3 + 1.5 * (q3 - q1)
              cur = cur.filter(r => !r.isNullAt(ci) && r.getDouble(ci) <= ub)
            }
          }
        }
        cur
    }.toSeq
  }

  test("outlier removal matches pandas-semantics reference on the fixture") {
    val got = WaferPipeline.removeOutliersByClass(fixture)
    val schema = fixture.schema
    val classIdx = schema.fieldIndex("Class")
    val colIdxs = WaferSchema.sizeCols.map(schema.fieldIndex)
    val want = referenceOutlierFilter(fixture.collect().toSeq, classIdx, colIdxs)
    val lotIdx = schema.fieldIndex("LOT_ID")
    assert(got.select(fixture.columns.map(col): _*).collect().map(_.getString(lotIdx)).toSet
      === want.map(_.getString(lotIdx)).toSet)
    // sanity on the planted structure:
    val byClass = got.groupBy("Class").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(!byClass.contains(None), "null-Class rows must be dropped")
    assert(byClass(Some("B")) === 30, "IQR==0 col skipped, SIZE_Y outliers removed")
    assert(byClass(Some("C")) === 11, "<2 non-null group passes through")
  }

  test("upper bound only: minimum values survive") {
    val got = WaferPipeline.removeOutliersByClass(fixture)
    val minIn = fixture.filter(col("Class") === "A").agg(min("SIZE_X")).head.getDouble(0)
    val minOut = got.filter(col("Class") === "A").agg(min("SIZE_X")).head.getDouble(0)
    assert(minIn === minOut)
  }

  test("engineered features: formulas, inf asymmetry, null propagation") {
    import spark.implicits._
    val df = Seq(
      // (MDAT_OFFSET, MDAT_GL, INTENSITY, PATCHNOISE, SIZE_X, SIZE_Y, DEFECT_AREA)
      (5.0, 1.0, 10.0, 4.0, 9.0, 3.0, 2.0),          // plain ratios
      (5.0, -1e-6, 10.0, 4.0, 9.0, -1e-6, 2.0),      // exact-zero denominators
      (Double.NaN, 1.0, 10.0, 4.0, 9.0, 3.0, 2.0)    // NaN input propagates (pandas NaN)
    ).toDF("MDAT_OFFSET", "MDAT_GL", "INTENSITY", "PATCHNOISE", "SIZE_X", "SIZE_Y", "DEFECT_AREA")
    val out = WaferPipeline.addEngineeredFeatures(df).collect()
    val r0 = out(0)
    assert(math.abs(r0.getDouble(7) - 5.0 / (1.0 + 1e-6)) < 1e-12)  // SNR_OFFSET_GL
    assert(math.abs(r0.getDouble(9) - 9.0 / (3.0 + 1e-6)) < 1e-12)  // ASPECT_RATIO
    val r1 = out(1)
    assert(r1.getDouble(7).isPosInfinity, "F1 keeps +inf (reference asymmetry)")
    assert(r1.isNullAt(9), "F3 scrubs inf to null")
    val r2 = out(2)
    assert(r2.getDouble(7).isNaN, "NaN numerator propagates through F1 like pandas")
  }

  test("kmeans: labels exactly for REAL+analysed-step+complete-feature rows; k=2; blobs split") {
    val labeled = WaferPipeline.runKMeansByStep(fixture).cache()
    val withCluster = labeled.filter(col("KMeans_Cluster").isNotNull)
    // eligibility: REAL, step in defaults, no null features
    val eligible = fixture
      .filter(col("IS_DEFECT") === "REAL" &&
        col("Step_desc").isin(WaferSchema.defaultSteps: _*))
      .na.drop("any", WaferSchema.clusterFeatures)
    assert(withCluster.count() === eligible.count())
    assert(labeled.filter(col("IS_DEFECT") === "FALSE" && col("KMeans_Cluster").isNotNull).count() === 0)
    assert(labeled.filter(col("Step_desc") === "OTHER" && col("KMeans_Cluster").isNotNull).count() === 0)
    // structural correctness per step: 2 non-empty clusters that exactly
    // separate the two planted blobs (ENERGY_PARAM sign marks the blob)
    for (step <- WaferSchema.defaultSteps) {
      val sub = withCluster.filter(col("Step_desc") === step)
        .select(col("KMeans_Cluster"), (col("ENERGY_PARAM") > 0).as("blob"))
        .collect().map(r => (r.getInt(0), r.getBoolean(1)))
      assert(sub.map(_._1).distinct.sorted.toSeq === Seq(0, 1), s"step $step: two clusters")
      val pure = sub.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size === 1)
      assert(pure, s"step $step: clusters align with planted blobs")
    }
    // determinism: same seed → same assignment
    val again = WaferPipeline.runKMeansByStep(fixture)
      .filter(col("KMeans_Cluster").isNotNull)
      .groupBy("Step_desc", "KMeans_Cluster").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val first = withCluster.groupBy("Step_desc", "KMeans_Cluster").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(again === first)
  }

  test("kmeans structural contract holds on the FORCED-DISTRIBUTED MLlib path too") {
    // the default path at fixture size is the driver-side Lloyd's
    // dispatch; localLimit=0 forces the distributed MLlib fit — both
    // must satisfy the same structural contract (§5.3): eligibility,
    // two non-empty clusters, exact blob separation, determinism
    spark.conf.set("spark.graft.wafer.kmeansLocalLimit", "0")
    try {
      val labeled = WaferPipeline.runKMeansByStep(fixture)
        .filter(col("KMeans_Cluster").isNotNull).cache()
      val eligible = fixture
        .filter(col("IS_DEFECT") === "REAL" &&
          col("Step_desc").isin(WaferSchema.defaultSteps: _*))
        .na.drop("any", WaferSchema.clusterFeatures)
      assert(labeled.count() === eligible.count())
      for (step <- WaferSchema.defaultSteps) {
        val sub = labeled.filter(col("Step_desc") === step)
          .select(col("KMeans_Cluster"), (col("ENERGY_PARAM") > 0).as("blob"))
          .collect().map(r => (r.getInt(0), r.getBoolean(1)))
        assert(sub.map(_._1).distinct.sorted.toSeq === Seq(0, 1), s"step $step")
        val pure = sub.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size === 1)
        assert(pure, s"step $step: clusters align with planted blobs")
      }
      labeled.unpersist()
    } finally spark.conf.unset("spark.graft.wafer.kmeansLocalLimit")
  }

  test("killer labeling follows the (step, cluster) mapping; boolean non-null") {
    val labeled = WaferPipeline.labelKillerDefects(
      WaferPipeline.runKMeansByStep(fixture)).cache()
    assert(labeled.filter(col("is_killer_defect").isNull).count() === 0)
    val bad = labeled.filter(col("is_killer_defect") &&
      !(col("IS_DEFECT") === "REAL" &&
        ((col("Step_desc") === "PC") && (col("KMeans_Cluster") === 1) ||
          (col("Step_desc") === "RMG") && (col("KMeans_Cluster") === 1) ||
          (col("Step_desc") === "CBCMP") && (col("KMeans_Cluster") === 0))))
    assert(bad.count() === 0)
    // and some killers exist (each step has both clusters populated)
    assert(labeled.filter(col("is_killer_defect")).count() > 0)
  }

  test("composer toggles skip stages; full pipeline yields 31 columns") {
    val full = WaferPipeline.preprocess(fixture)
    assert(full.columns.length === 31)
    val noml = WaferPipeline.preprocess(fixture, runClustering = false, labelKiller = false)
    assert(!noml.columns.contains("KMeans_Cluster"))
    assert(noml.columns.length === 29)
    val nothing = WaferPipeline.preprocess(fixture,
      removeOutliers = false, addFeatures = false, runClustering = false, labelKiller = false)
    assert(nothing.columns.toSeq === fixture.columns.toSeq)
  }

  test("summary aggregates report the pipeline's numbers") {
    val out = WaferPipeline.preprocess(fixture).cache()
    val s = WaferPipeline.summary(out)
    assert(s.rows === out.count())
    assert(s.classes === Seq("A", "B", "C"))
    assert(s.killerCount === out.filter(col("is_killer_defect")).count())
    assert(s.clusterDist.values.sum === s.rows)
  }

  test("loadCsv fails fast on missing path and on empty input (data_loader.py:42-48)") {
    intercept[org.apache.spark.sql.AnalysisException] {
      WaferPipeline.loadCsv(spark, "/tmp/graft_no_such_dir_12345")
    }
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_empty_csv")
    java.nio.file.Files.writeString(
      emptyDir.resolve("part-0.csv"),
      WaferSchema.inputSchema.fieldNames.mkString(",") + "\n") // header only
    intercept[IllegalArgumentException] {
      WaferPipeline.loadCsv(spark, emptyDir.toString)
    }
  }

  test("schema validator flags missing and mismatched columns") {
    import spark.implicits._
    WaferPipeline.validateSchema(fixture, WaferSchema.inputSchema) // passes
    val wrong = Seq(("a", 1)).toDF("Class", "SIZE_X") // SIZE_X int, not double
    intercept[IllegalArgumentException] {
      WaferPipeline.validateSchema(wrong, WaferSchema.inputSchema)
    }
  }

  test("csv round trip preserves rows (A1/A5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wafer_csv").toString
    WaferPipeline.writeCsv(fixture.select(WaferSchema.inputSchema.fieldNames.map(col): _*), dir)
    val back = WaferPipeline.loadCsv(spark, dir)
    assert(back.count() === fixture.count())
    assert(back.schema === WaferSchema.inputSchema)
  }
}
