package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Fail loudly on any unexpected arity: a stray 4th token must not be
    // silently read as a filter — a filtered dump prunes oracle_sql.json
    // and would quietly shrink the round's correctness coverage.
    require(args.length == 2 || args.length == 3,
      s"usage: Verify <sfDir> <outDir> [namePrefixes]; got ${args.length} args: ${args.mkString(" ")}")
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg (dev only): comma-separated name prefixes —
    // dump/declare just those queries for a fast check_oracle.py loop
    val only = args.lift(2).map(_.split(',').toSeq)
    only.foreach(p =>
      System.err.println(s"[verify] PARTIAL dump (dev filter): ${p.mkString(",")}"))
    val spark = Session.local(Session.cpus)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  def run(
      spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]] = None): Unit = {
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the overwrite deletes anything (plan-time
        // error) would leave a PRIOR run's dump in place — the oracle
        // compare would then hash stale results and report a false
        // pass; a failed query must have NO result directory
        FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
