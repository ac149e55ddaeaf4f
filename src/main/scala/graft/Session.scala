package graft

import org.apache.spark.sql.SparkSession

/** The local session every dev main and test helper runs on. Its confs
  * are Bench's (Bench keeps its own builder: it is the frozen driver
  * harness); WaferMain builds its own because its master is a
  * deployment setting (`$SPARK_MASTER`).
  */
object Session {
  /** Local core count: `$SPARK_GRAFT_CPUS`, else the machine's cores. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time zone, AQE on, UI off and log level ERROR.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
