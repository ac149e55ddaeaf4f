package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Cumulative listener counters; differences of two snapshots give the
  * work done between them.
  */
final case class Counts(
    jobs: Long, busyMs: Long, shuffleBytes: Long, spillBytes: Long, failedTasks: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, busyMs - o.busyMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, failedTasks - o.failedTasks)
}

/** Job counter, registered for the whole run in both modes: it is what
  * `jobs_per_pass` reads, and costs one increment per job.
  */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
}

/** Task-level listener of the traced passes: summed task run time,
  * shuffle bytes written, bytes spilled to disk, failed tasks, and the
  * wall interval of every job (for a span's time with no job running).
  */
final class DetailListener extends SparkListener {
  private val busyMs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  private val failed = new AtomicLong
  private val starts = scala.collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { starts(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { intervals += ((starts.remove(e.jobId).getOrElse(e.time), e.time)) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
    if (e.reason != Success) failed.incrementAndGet()
    ()
  }

  def snapshot(jobs: Long): Counts =
    Counts(jobs, busyMs.get, shuffle.get, spill.get, failed.get)

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var reach = from
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

/** One recorded call: `parent` is the index of the enclosing span (-1 at
  * the top: a wafer pass, or one catalog query), `pass` the pass it ran in.
  */
final case class Span(
    name: String, parent: Int, pass: Int, startMs: Long, endMs: Long,
    wallS: Double, counts: Counts, driverS: Double)

/** Records spans around the benchmark's calls into the engine. Spans
  * are kept only while `tracing` is on; an untraced pass runs the same
  * calls with nothing but the run-wide [[JobCounter]] attached.
  */
final class Tracer(sc: SparkContext) {
  private val jobCounter = new JobCounter
  sc.addSparkListener(jobCounter)
  private val detail = new DetailListener
  private var tracing = false
  private var pass = 0
  private var stack = List.empty[Int]
  val spans = ArrayBuffer[Span]()

  /** Job count so far, after every posted event has been delivered. */
  def jobs(): Long = { PerfbenchBus.drain(sc); jobCounter.jobs.get }

  def startPass(n: Int, traced: Boolean): Unit = {
    pass = n
    if (traced != tracing) {
      if (traced) sc.addSparkListener(detail) else sc.removeSparkListener(detail)
      tracing = traced
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val c0 = detail.snapshot(jobs())
      val parent = stack.headOption.getOrElse(-1)
      val slot = spans.length
      spans += null // reserve: children recorded inside keep parent order
      stack = slot :: stack
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val m1 = System.currentTimeMillis()
        stack = stack.tail
        val d = detail.snapshot(jobs()) - c0
        val idle = math.max(0.0, wall - detail.jobCoveredMs(m0, m1) / 1000.0)
        spans(slot) = Span(name, parent, pass, m0, m1, wall, d, idle)
      }
    }

  /** The spans as a JSON array (name, start, end, parent and counts). */
  def spansJson: String = spans.iterator.map { s =>
    s"""{"name":"${s.name}","pass":${s.pass},"parent":${s.parent},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"wall_s":${s.wallS},"driver_s":${s.driverS},""" +
      s""""jobs":${s.counts.jobs},"busy_ms":${s.counts.busyMs},""" +
      s""""shuffle_bytes":${s.counts.shuffleBytes},"spill_bytes":${s.counts.spillBytes},""" +
      s""""failed_tasks":${s.counts.failedTasks}}"""
  }.mkString("[\n", ",\n", "\n]")
}
