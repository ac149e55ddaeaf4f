package perfbench

/** Per-layer metrics of a traced run: each is the median, over the
  * traced warm passes, of one span's figure. Every name is reported on
  * every workload; a layer the workload does not call reads 0.
  */
object Layers {
  /** Stages that run Spark jobs, and the lazy ones expected to run none. */
  val waferEager: Seq[String] = Seq(
    "loadCsv", "summary_in", "removeOutliersByClass", "runKMeansByStep", "writeCsv", "summary_out")
  val waferLazy: Seq[String] = Seq("addEngineeredFeatures", "labelKillerDefects", "validateSchema")

  private val mb = 1048576.0

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Rows into and out of the outlier stage, and rows labelled killer. */
  val rowCounts: Seq[String] = Seq("wafer.rows_in", "wafer.rows_kept", "wafer.killer_rows")

  def metrics(spans: Seq[Span], counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    def med(span: String)(f: Span => Double): Double =
      median(byName.getOrElse(span, Seq.empty).map(f))
    def wall(s: String) = med(s)(_.wallS)
    def jobs(s: String) = med(s)(_.counts.jobs.toDouble)
    def busy(s: String) = med(s)(_.counts.busyMs / 1000.0)
    def shuffle(s: String) = med(s)(_.counts.shuffleBytes / mb)

    val wafer = waferEager.flatMap { st =>
      val s = s"wafer.$st"
      Seq((s"$s.wall_s", wall(s), "s"), (s"$s.jobs", jobs(s), "count"),
        (s"$s.busy_s", busy(s), "s"), (s"$s.driver_s", med(s)(_.driverS), "s"),
        (s"$s.shuffle_mb", shuffle(s), "MB"))
    } ++ waferLazy.flatMap { st =>
      val s = s"wafer.$st"
      Seq((s"$s.wall_s", wall(s), "s"), (s"$s.jobs", jobs(s), "count"))
    } ++ rowCounts.map(n => (n, counts.getOrElse(n, 0.0), "count"))
    val queries = CatalogWorkload.queries.flatMap { q =>
      val s = s"queries.$q"
      Seq((s"$s.build_s", wall(s"$s.build"), "s"), (s"$s.action_s", wall(s"$s.action"), "s"),
        (s"$s.jobs", jobs(s), "count"), (s"$s.build_jobs", jobs(s"$s.build"), "count"),
        (s"$s.shuffle_mb", shuffle(s), "MB"))
    }
    // per pass: the top-level spans (a wafer pass, or one catalog query)
    val perPass = spans.filter(_.parent < 0).groupBy(_.pass).values.toSeq
    val spark = Seq(
      ("spark.spill_mb", median(perPass.map(_.map(_.counts.spillBytes).sum / mb)), "MB"),
      ("spark.failed_tasks", median(perPass.map(_.map(_.counts.failedTasks).sum.toDouble)), "count"))
    wafer ++ queries ++ spark
  }
}
