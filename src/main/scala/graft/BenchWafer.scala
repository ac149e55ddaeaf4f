package graft

import org.apache.spark.sql.functions._

/** Dev profiling main for the wafer pipeline stages. */
object BenchWafer {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    def time[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[stage] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val n = args.headOption.map(_.toLong).getOrElse(63909L)
    val exact = !args.contains("approx")
    val in = wafer.WaferDataGen.generate(spark, n, parts = Session.cpus * 4).cache()
    in.count()
    val o = time("outlier")(wafer.WaferPipeline.removeOutliersByClass(in, exact = exact))
    time("outlier-materialize")(o.count())
    val f = wafer.WaferPipeline.addEngineeredFeatures(o)
    time("features-materialize")(f.count())
    // fine-grained: one step by hand
    locally {
      import wafer.WaferSchema.clusterFeatures
      val fc = f.cache(); time("f-cache")(fc.count())
      val sub = fc.filter(col("IS_DEFECT") === "REAL" && col("Step_desc") === "PC")
        .na.drop("any", clusterFeatures)
      time("subset-count")(sub.count())
      val aggs = clusterFeatures.flatMap(x => Seq(
        (Num.dsum(col(x)) / count(col(x))).as(s"m_$x"),
        (Num.dsum(col(x) * col(x)) / count(col(x))).as(s"q_$x")))
      val stats = sub.agg(aggs.head, aggs.tail: _*)
      time("stats-collect")(stats.collect())
      val zc = clusterFeatures.map(x =>
        ((col(x) - col(s"m_$x")) / sqrt(col(s"q_$x") - col(s"m_$x") * col(s"m_$x"))).as(s"z_$x"))
      val scaled = sub.crossJoin(broadcast(stats))
        .select(zc: _*)
        .withColumn("fv", org.apache.spark.ml.functions.array_to_vector(
          array(clusterFeatures.map(x => col(s"z_$x")): _*)))
        .coalesce(1).cache()
      time("scaled-cache")(scaled.count())
      val km = new org.apache.spark.ml.clustering.KMeans()
        .setK(2).setSeed(42).setFeaturesCol("fv")
      val model = time("fit")(km.fit(scaled))
      time("transform")(model.transform(scaled).count())
      scaled.unpersist(); fc.unpersist()
    }
    val k = time("kmeans-all")(wafer.WaferPipeline.runKMeansByStep(f))
    time("kmeans-materialize")(k.count())
    val l = wafer.WaferPipeline.labelKillerDefects(k)
    time("label+noop-write")(l.write.format("noop").mode("overwrite").save())
    time("full-pipeline-2nd-run")(
      wafer.WaferPipeline.preprocess(in, exactQuantiles = exact)
        .write.format("noop").mode("overwrite").save())
    // variance probe (round-11 verdict item 6): repeat the full
    // pipeline reps=N times and print each wall so the min-max band —
    // and WHERE the spread lives — is measurable inside one session
    args.collectFirst { case a if a.startsWith("reps=") => a.drop(5).toInt }
      .foreach { reps =>
        for (i <- 1 to reps)
          time(s"full-pipeline-rep$i")(
            wafer.WaferPipeline.preprocess(in, exactQuantiles = exact)
              .write.format("noop").mode("overwrite").save())
      }
    spark.stop()
  }
}
