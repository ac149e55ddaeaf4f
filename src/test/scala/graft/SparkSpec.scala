package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    // saveAsTable specs write under a throwaway warehouse, never the
    // working directory. The warehouse dir is a static conf, so it goes
    // in as a spark.* system property, which the session builder reads
    // before the context starts.
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft_wh").toString
    Session.local(4)
  }
}
