package graft.tools

/** Dev timer for a single declared query, matching Bench's measurement
  * (noop-write materialization, warm-then-time). Not part of the driver
  * contract; run via
  *   runMain graft.tools.BenchOne <queryName> [sfDir] [reps] [k=v ...]
  * where trailing k=v args are session conf overrides (the PlanDump
  * discipline — lets a size-dispatched operator's tiers be timed from
  * one binary).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val confs = args.drop(3).flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    })
    val spark = graft.Session.local(graft.Session.cpus)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }

    val q = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[benchone] $name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
