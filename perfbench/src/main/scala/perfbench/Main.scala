package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, expr, lit, sum}

import Layers.median

/** One benchmark run in a fresh JVM: set-up, one cold pass, warm passes
  * adding up to `--seconds`, untimed output checks, then one JSON
  * line of metrics on stdout. Launched by perfbench/run.py, which maps a
  * workload name to these options:
  *
  *   --kind wafer   --rows N --seed N
  *   --kind catalog --sf-dir DIR --expect FILE
  *   common: --seconds S --trace 0|1 --work DIR [--trace-out FILE] [--corrupt 1]
  *
  * `--mode expect --sf-dir DIR --work DIR --verify-out DIR --expect-out FILE`
  * instead dumps the catalog queries' outputs (graft.Verify.run over the
  * staged tables) and writes their fingerprints as an expectation file.
  */
object Main {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val work = need("work")
    val t0 = System.nanoTime()
    val spark = session(work)
    val startS = (System.nanoTime() - t0) / 1e9
    try opt.getOrElse("mode", "run") match {
      case "expect" => expect(spark, need("sf-dir"), work, need("verify-out"), need("expect-out"))
      case "run" => run(spark, opt, need, work, jvmStart, startS)
      case m => sys.error(s"unknown --mode $m")
    } finally spark.stop()
  }

  /** Bench's session: local[cores], shuffle partitions = cores, AQE on,
    * UTC, UI off. No engine (`spark.graft.*`) setting is made.
    */
  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(
      spark: SparkSession, opt: Map[String, String], need: String => String,
      work: String, jvmStart: Long, startS: Double): Unit = {
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val corrupt = opt.get("corrupt").contains("1")
    val tr = new Tracer(spark.sparkContext)
    val registry = spark.sessionState.functionRegistry
    val functionsAtStart = registry.listFunction().size
    val wl: Workload = need("kind") match {
      case "wafer" =>
        new WaferWorkload(spark, tr, need("rows").toLong, need("seed").toLong, work, corrupt)
      case "catalog" =>
        new CatalogWorkload(spark, tr, need("sf-dir"), work, need("expect"), corrupt)
      case k => sys.error(s"unknown --kind $k")
    }
    val s0 = System.nanoTime()
    wl.stage()
    val stageS = (System.nanoTime() - s0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // Pass 1 is cold. An untraced run then makes warm passes until they
    // add up to `seconds` (at least one). A traced run makes three warm
    // passes, traced / untraced / traced: the two traced ones sit
    // evenly around the untraced one, so a steady warm-up trend cancels
    // out of trace.overhead_frac.
    val results = ArrayBuffer[(PassResult, Boolean)]()
    def more: Boolean =
      if (traced) results.length < 4
      else results.length < 2 || results.drop(1).map(_._1.seconds).sum < seconds
    while (more) {
      val n = results.length + 1
      val tracedPass = traced && n > 1 && n % 2 == 0
      tr.startPass(n, tracedPass)
      results += ((wl.pass(), tracedPass))
      log(f"pass $n${if (tracedPass) " traced" else ""} ${results.last._1.seconds}%.3f s, " +
        s"${results.last._1.jobs} jobs")
    }
    // what the passes left registered in the session
    val tempFunctions = registry.listFunction().size - functionsAtStart
    val persisted = spark.sparkContext.getPersistentRDDs.size
    tr.startPass(results.length + 1, traced = false)
    val finishFailed = wl.finish()
    val attempted = results.map(_._1.attempted).sum
    val failed = results.map(_._1.failed).sum + finishFailed
    val warm = results.drop(1)
    val plain = warm.filterNot(_._2).map(_._1)
    val calibration = if (traced) median(Seq.fill(3)(calibrationProbe(spark))) else 0.0
    val heapMb = retainedHeapMb()
    log(s"${warm.length} warm passes; spans ${tr.spans.length}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("first_pass_s", results.head._1.seconds, "s"),
        ("pass_s", median(plain.map(_.seconds)), "s"),
        ("jobs_per_pass", median(plain.map(_.jobs.toDouble)), "count"),
        ("retained_heap_mb", heapMb, "MB"),
        ("ok_frac", 1.0 - failed.toDouble / attempted, "frac"))
      else {
        val tracedPasses = warm.filter(_._2).map(_._1)
        Layers.metrics(tr.spans.toSeq, wl.counts) ++ Seq(
          ("session.start_s", startS, "s"),
          ("session.stage_s", stageS, "s"),
          ("session.temp_functions_added", tempFunctions.toDouble, "count"),
          ("session.persisted_rdds", persisted.toDouble, "count"),
          ("trace.overhead_frac",
            median(tracedPasses.map(_.seconds)) / median(plain.map(_.seconds)) - 1.0, "frac"),
          ("box.calibration_s", calibration, "s"),
          ("run.warm_passes", warm.length.toDouble, "count"),
          ("run.failed_frac", failed.toDouble / attempted, "frac"))
      }
    opt.get("trace-out").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        s"""{"passes":${results.map(r => s"""{"seconds":${r._1.seconds},"jobs":${r._1.jobs},""" +
          s""""traced":${r._2}}""").mkString("[", ",", "]")},"spans":${tr.spansJson}}""")
    }
    println(s"""{"passes":${results.length},"warm_passes":${warm.length}}""")
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${body.mkString("{", ",", "}")}}""")
  }

  /** Driver heap in use once collection has settled: a full GC, then a
    * pause for Spark's ContextCleaner to drop the state of objects the GC
    * freed, repeated until two readings agree within 1 MB.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = used()
      rounds += 1
    } while (math.abs(cur - prev) >= 1.0 && rounds < 10)
    cur
  }

  /** A fixed no-I/O probe (seeded range → hash → 997-group aggregate),
    * kept as a box-speed drift diagnostic.
    */
  private def calibrationProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1, 8)
      .selectExpr("(id * 2654435761L) % 1000003 AS h")
      .groupBy(expr("h % 997"))
      .agg(count(lit(1)).as("n"), sum(expr("h")).as("s"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Dumps the catalog outputs over the staged tables and writes their
    * fingerprints; check the dump with scripts/check_oracle.py first.
    */
  private def expect(
      spark: SparkSession, sfDir: String, work: String, verifyOut: String, out: String): Unit = {
    val staged = s"$work/staged"
    CatalogWorkload.stage(spark, sfDir, staged)
    graft.Verify.run(spark, staged, verifyOut, Some(CatalogWorkload.queries))
    val lines = CatalogWorkload.queries.map { q =>
      s"$q\t${Fingerprint(spark.read.parquet(s"$verifyOut/$q"))}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("# query\trows\thash-sum (perfbench.Fingerprint)\n", "\n", "\n"))
    ()
  }
}
