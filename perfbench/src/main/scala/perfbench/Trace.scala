package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call into a module, or one whole operation of a workload.
  * Times are epoch nanoseconds (a nanoTime reading shifted onto the
  * wall clock once per process), so they line up with Spark's
  * millisecond job times. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** One finished Spark job with the task metrics of its stages. `group`
  * is the job group the caller set (`setJobGroup`), which names the
  * request or query the job ran for. Times are epoch milliseconds. */
final case class JobRec(id: Int, group: String, start: Long, end: Long,
    stages: Int, tasks: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long)

/** In-memory span recorder. With `enabled` false every call is a plain
  * pass-through, so the untraced phases run the same code. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val shift = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = System.nanoTime() + shift

  def span[A](name: String, req: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = now()
      try f
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, now()))
      }
    }

  /** A span whose times were taken elsewhere (a monitor callback). */
  def record(name: String, req: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, name, req, start, end))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Writes every span with its self time: its duration minus the part
    * of it that its child spans cover. */
  def write(file: java.io.File): Unit = {
    val spans = all
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val self = s.end - s.start - Tracer.covered(
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""req":${Json.str(s.req)},"start_ns":${s.start},"end_ns":${s.end},"self_ns":$self}""")
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Records every job with its group, stage count and task metrics. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val group: String, val start: Long) {
    var stages, tasks = 0
    var runMs, gcMs, shW, shR, spill = 0L
  }
  private val open = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val done = new ConcurrentLinkedQueue[JobRec]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    open.put(e.jobId, new Acc(e.jobId, group, e.time))
    e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
    started.incrementAndGet()
  }

  private def accOf(stageId: Int): Option[Acc] =
    Option(stageJob.get(stageId)).flatMap(j => Option(open.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    accOf(e.stageInfo.stageId).foreach(a => a.synchronized { a.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (a <- accOf(e.stageId); m <- Option(e.taskMetrics)) a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(open.remove(e.jobId)).foreach { a =>
      a.synchronized {
        done.add(JobRec(a.id, a.group, a.start, e.time, a.stages, a.tasks,
          a.runMs, a.gcMs, a.shW, a.shR, a.spill))
      }
    }
    ended.incrementAndGet()
  }

  /** Wait until the listener bus has delivered the end of every job it
    * saw start (the bus is asynchronous), at most `timeoutMs`. */
  def drain(timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (started.get() != ended.get() ||
          System.currentTimeMillis() - stableSince < 200)) {
      if (ended.get() != last) { last = ended.get(); stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def jobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.start)

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try jobs.foreach { j =>
      w.println(s"""{"job":${j.id},"group":${Json.str(j.group)},"start_ms":${j.start},""" +
        s""""end_ms":${j.end},"stages":${j.stages},"tasks":${j.tasks},"run_ms":${j.runMs},""" +
        s""""gc_ms":${j.gcMs},"shuffle_write":${j.shuffleWrite},""" +
        s""""shuffle_read":${j.shuffleRead},"spill":${j.spill}}""")
    } finally w.close()
  }
}

/** Aggregates over the jobs of one caller. */
object Jobs {
  /** Driver time between a caller's consecutive jobs, in ms. */
  def gapMs(js: Seq[JobRec]): Long = {
    val sorted = js.sortBy(_.start)
    var gap = 0L
    var lastEnd = Long.MaxValue
    sorted.foreach { j =>
      if (j.start > lastEnd) gap += j.start - lastEnd
      lastEnd = if (lastEnd == Long.MaxValue) j.end else math.max(lastEnd, j.end)
    }
    gap
  }

  /** Wall time during which at least one of `js` ran, in ms. */
  def execMs(js: Seq[JobRec]): Long =
    Tracer.covered(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue)
}
