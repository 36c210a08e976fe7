package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.delta.{DeltaLog, LogStore}

/** One timed call: `name` is `<layer>.<what>` (e.g. `dml.merge`), a root
  * span has parent 0. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, client: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans around the benchmark's calls into graft. Disabled, `span` is a
  * plain call. Enabled, each span tags the calling thread's Spark jobs
  * (local property [[Tracer.SpanKey]]) so [[JobListener]] can attribute
  * jobs to spans with two clients running at once; spans stay in memory
  * until the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val clientOf = new ThreadLocal[String] { override def initialValue = "main" }

  def setClient(c: String): Unit = clientOf.set(c)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.add(Span(id, parents.headOption.getOrElse(0L), name, clientOf.get, t0, t1))
        stack.set(parents)
        sc.setLocalProperty(Tracer.SpanKey, parents.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Self time per span: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
        .filter { case (a, b) => b > a }
      s.id -> (s.end - s.start - (if (c.isEmpty) 0L else unionLength(c)))
    }.toMap
  }

  /** Root span of every span id. */
  def rootOf(spans: Seq[Span]): Map[Long, Long] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    def up(id: Long): Long = parent.get(id) match {
      case Some(0L) | None => id
      case Some(p) => up(p)
    }
    spans.map(s => s.id -> up(s.id)).toMap
  }
}

/** Per-job Spark cost, attributed to the span that was open on the
  * submitting thread. */
final class JobStat(val span: Long, val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageStat {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener keyed by span id. Job intervals use the listener
  * event times (wall-clock ms), so they are converted to the tracer's
  * nanoTime base via `offsetNs`. */
final class JobListener extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStat]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStat]()
  val jobsEnded = new AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    jobs.put(e.jobId, new JobStat(tag.map(_.toLong).getOrElse(0L),
      e.time * 1000000L + offsetNs, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L + offsetNs)
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val st = stages.computeIfAbsent(e.stageId, _ => new StageStat)
    st.synchronized {
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.recordsRead += m.inputMetrics.recordsRead
      st.bytesRead += m.inputMetrics.bytesRead
      st.taskMs += e.taskInfo.duration
    }
  }

  /** Block until every started job has ended and its events are in. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded.get < jobs.size && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** One successful commit-file put seen by [[CountingLogStore]]. */
final case class Put(version: Long, bytes: Int, addFiles: Int, addBytes: Long, ms: Double)

/** Counting decorator over the `file` LogStore: every call is delegated
  * to the store that was registered before it, so commit atomicity is
  * that store's; this only counts attempts, conflicts, put time and
  * bytes, and remembers which thread landed which commit. */
final class CountingLogStore(inner: LogStore) extends LogStore {
  val attempts = new AtomicLong
  val conflicts = new AtomicLong
  private val puts = new ConcurrentLinkedQueue[Put]()
  private val landed = new ThreadLocal[mutable.ArrayBuffer[Put]] {
    override def initialValue = mutable.ArrayBuffer.empty[Put]
  }
  private val addLine = "\"add\":"
  private val sizeRe = """"size":(\d+)""".r

  override def atomicPutIfAbsent: Boolean = inner.atomicPutIfAbsent

  override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    attempts.incrementAndGet()
    val t0 = System.nanoTime()
    try inner.writePutIfAbsent(fs, target, bytes)
    catch { case e: Throwable => conflicts.incrementAndGet(); throw e }
    val ms = (System.nanoTime() - t0) / 1e6
    val adds = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').filter(_.startsWith("{" + addLine))
    val addBytes = adds.flatMap(l => sizeRe.findFirstMatchIn(l).map(_.group(1).toLong)).sum
    val version = target.getName.takeWhile(_ != '.').toLong
    val put = Put(version, bytes.length, adds.length, addBytes, ms)
    puts.add(put)
    landed.get += put
  }

  /** Commits the calling thread landed since its previous call. */
  def takeLanded(): Seq[Put] = {
    val v = landed.get.toList
    landed.get.clear()
    v
  }

  def snapshot: Seq[Put] = puts.asScala.toSeq
}

object CountingLogStore {
  /** Register once per JVM; later calls return the same decorator. */
  lazy val installed: CountingLogStore = {
    val c = new CountingLogStore(LogStore.forScheme("file"))
    LogStore.register("file", c)
    c
  }
}

/** Deltas of DeltaLog's public read/list counters. */
final case class LogCounters(commitReads: Long, checkpointReads: Long, listings: Long) {
  def -(o: LogCounters): LogCounters =
    LogCounters(commitReads - o.commitReads, checkpointReads - o.checkpointReads,
      listings - o.listings)
}

object LogCounters {
  def now(): LogCounters = LogCounters(DeltaLog.commitReadCount.get,
    DeltaLog.checkpointReadCount.get, DeltaLog.logListCount.get)
}
