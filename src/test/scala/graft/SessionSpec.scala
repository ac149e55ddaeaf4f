package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

/** The shared local-session factory and the recursive delete every
  * staging site uses (commons-io `FileUtils.deleteQuietly`).
  */
class SessionSpec extends SparkSpec {

  test("Session.local(n): n shuffle partitions, UTC, AQE on, UI off") {
    // the shared session starts first; the factory then applies its
    // runtime confs to that live session, so they are observable here
    // (the master of a running context cannot change)
    val shared = spark
    val s = Session.local(3)
    try {
      assert(s eq shared)
      assert(s.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    } finally s.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("deleteQuietly removes a nested stage dir, not its symlink targets") {
    // the eventsStream stage: a directory holding a symlink to the
    // harness events file, plus nested content a stream run leaves
    val src = Files.createTempDirectory("graft_rm_src")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      src.resolve("events.parquet"))
    val linkedDir = Files.createDirectories(src.resolve("linked"))
    Files.writeString(linkedDir.resolve("keep.txt"), "keep")
    try {
      Tables.eventsStream(spark, src.toString)
      val stage = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_events_stream_${Stage.pathTag(src.toString)}")
      assert(Files.isSymbolicLink(stage.resolve("events.parquet")))
      Files.createSymbolicLink(stage.resolve("linked"), linkedDir)
      val nested = Files.createDirectories(stage.resolve("a/b/c"))
      Files.writeString(nested.resolve("part-0"), "x")

      assert(FileUtils.deleteQuietly(stage.toFile))
      assert(!Files.exists(stage, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.size(src.resolve("events.parquet")) > 0,
        "the symlinked file must survive")
      assert(Files.readString(linkedDir.resolve("keep.txt")) === "keep",
        "a symlinked directory's contents must survive")
      // a missing path is a quiet no-op
      assert(!FileUtils.deleteQuietly(stage.toFile))
    } finally FileUtils.deleteQuietly(src.toFile)
  }
}
