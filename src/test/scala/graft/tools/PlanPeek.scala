package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev scratch main: print the simple-mode plan of named queries. */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.cpus)
    args.drop(1).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      println(s"===== $name =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("simple")))
    }
    spark.stop()
  }
}
