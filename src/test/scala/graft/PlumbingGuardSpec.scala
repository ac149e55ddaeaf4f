package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps shared plumbing in one place: a new main
  * builds its session through `graft.Session`, catalogs call `Tables`
  * directly, and recursive deletes go through `FileUtils.deleteQuietly`.
  */
class PlumbingGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${sys.props("user.dir")}")
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).map(p => p -> Files.readString(p))
    finally st.close()
  }

  private def offenders(files: Seq[(Path, String)], pattern: String): Seq[String] = {
    val re = pattern.r
    files.collect { case (p, src) if re.findFirstIn(src).isDefined => p.toString }
  }

  test("SparkSession.builder appears in src/main only in Session, Bench and WaferMain") {
    val allowed = Set("Session.scala", "Bench.scala", "WaferMain.scala")
    val main = sources("src/main/scala")
      .filterNot { case (p, _) => allowed(p.getFileName.toString) }
    assert(offenders(main, """SparkSession\s*\.\s*builder""").isEmpty)
  }

  test("no query catalog defines its own Tables alias") {
    val found = offenders(sources("src/main/scala/graft/queries"),
      """def\s+\w+\s*\([^)]*\)[^=\n]*=\s*Tables\s*\(\s*\w+\s*,\s*\w+\s*,\s*\w+\s*\)""")
    assert(found.isEmpty)
  }

  test("no hand-written recursive delete") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    assert(offenders(all, """def\s+rm\s*\(""").isEmpty)
    assert(offenders(all, """listFiles\(\)\)\.foreach\(_\.foreach\(""").isEmpty)
  }
}
