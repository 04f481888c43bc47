package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `name` is `<layer>.<function>`; the layer
  * prefix is what self time is reported under. Times are nanoTime for
  * durations and epoch millis for matching Spark's event timestamps. */
final class Span(val id: Int, val name: String, val parent: Int, val cycle: Int,
                 val startNs: Long, val startMs: Long, val fs0: Array[Long]) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  var fs1: Array[Long] = fs0
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
  def fs(i: Int): Long = fs1(i) - fs0(i)
}

/** Spans recorded by the benchmark thread around its calls into the
  * program. Disabled, `span` is a plain call: the untraced run pays
  * nothing but the cycle-id local property. Spark work started inside a
  * span carries its id as the `graftbench.span` local property, so lazy
  * work is attributed to the span whose action started it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  /** per-cycle counts the workloads report from call results */
  val counts = scala.collection.mutable.Map.empty[(Int, String), Double]
  private var stack: List[Span] = Nil
  private var cycle = -1

  def count(name: String, v: Double, c: Int = cycle): Unit =
    if (enabled) counts((c, name)) = counts.getOrElse((c, name), 0.0) + v

  def setCycle(c: Int): Unit = {
    cycle = c
    sc.setLocalProperty("graftbench.cycle", c.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), cycle,
        System.nanoTime(), System.currentTimeMillis(), CountingFs.snapshot())
      spans += s
      stack = s :: stack
      sc.setLocalProperty("graftbench.span", s.id.toString)
      JvmProbe.sampleHeap()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs1 = CountingFs.snapshot()
        stack = stack.tail
        sc.setLocalProperty("graftbench.span", stack.headOption.map(_.id.toString).orNull)
        JvmProbe.sampleHeap()
      }
    }
}

/** Process-wide JVM counters read through the platform MXBeans. */
object JvmProbe {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile var heapMaxBytes: Long = 0L

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = jit.getTotalCompilationTime
  def sampleHeap(): Unit = {
    val used = mem.getHeapMemoryUsage.getUsed
    if (used > heapMaxBytes) heapMaxBytes = used
  }
  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** `file://` FileSystem that counts (and times) namespace and open calls
  * by path class. Installed as `fs.file.impl` in the traced run only. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  CountingFs.installed = true
  private def timed[T](cls: Int, op: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      counters.incrementAndGet(idx(cls, op))
      counters.addAndGet(tidx(cls, op), System.nanoTime() - t0)
    }
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed(classify(f), Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val cls = classify(f)
    if (cls == Data && f.getName.startsWith("part-")) counters.incrementAndGet(idx(Data, DataFile))
    timed(cls, Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }
  override def rename(src: Path, dst: Path): Boolean =
    timed(classify(dst), Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    timed(classify(f), Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    timed(classify(f), Mkdirs)(super.mkdirs(f, permission))
  override def listStatus(f: Path): Array[FileStatus] = {
    val cls = classify(f)
    val out = timed(cls, List)(super.listStatus(f))
    counters.addAndGet(idx(cls, Listed), out.length.toLong)
    out
  }
  // ChecksumFileSystem sends located listings (and so recursive listFiles)
  // straight to the raw store, past listStatus above
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    val cls = classify(f)
    val it = timed(cls, List)(super.listLocatedStatus(f))
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = { counters.incrementAndGet(idx(cls, Listed)); it.next() }
    }
  }
  override def getFileStatus(f: Path): FileStatus =
    timed(classify(f), Stat)(super.getFileStatus(f))
}

object CountingFs {
  // path classes
  val Data = 0; val Manifest = 1; val Landing = 2; val Checkpoint = 3; val Bookmark = 4
  val Classes = 5
  // ops (List counts calls, Listed the entries they returned, DataFile
  // the `part-*` data files created)
  val Open = 0; val Create = 1; val Rename = 2; val Delete = 3; val Mkdirs = 4
  val List = 5; val Listed = 6; val Stat = 7; val DataFile = 8
  val Ops = 9
  /** counts at idx(cls, op), nanoseconds spent at tidx(cls, op) */
  val counters = new AtomicLongArray(2 * Classes * Ops)
  @volatile var installed = false
  def idx(cls: Int, op: Int): Int = cls * Ops + op
  def tidx(cls: Int, op: Int): Int = Classes * Ops + cls * Ops + op
  def snapshot(): Array[Long] =
    if (!installed) Array.emptyLongArray
    else Array.tabulate(counters.length)(counters.get)

  def classify(p: Path): Int = {
    val s = p.toUri.getPath
    if (s.contains("/_graft_log")) Manifest
    else if (s.contains("/_checkpoint")) Checkpoint
    else if (s.contains("/_bookmarks")) Bookmark
    else if (s.contains("/landing")) Landing
    else Data
  }
}

/** Per-task and per-job aggregates, keyed by the span and cycle whose
  * local properties the job carried. `full = false` keeps only the
  * determinism counts (jobs, stages, tasks, SQL executions). */
final class SparkCounters(full: Boolean) extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufRead = 0L; var shufWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRecs = 0L; var outBytes = 0L; var outRecs = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    val stageSkew = ArrayBuffer.empty[Double]
  }
  private val byKey = new ConcurrentHashMap[(Int, Int), Agg]()
  private val stageKey = new ConcurrentHashMap[Int, (Int, Int)]()
  private val jobKey = new ConcurrentHashMap[Int, ((Int, Int), Long)]()
  private val taskTimes = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val executionStartMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private def agg(k: (Int, Int)): Agg = byKey.computeIfAbsent(k, _ => new Agg)
  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  /** (cycle, span) → aggregate; span is -1 in the untraced run. */
  def all: Map[(Int, Int), Agg] = byKey.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = (prop(e.properties, "graftbench.cycle"), prop(e.properties, "graftbench.span"))
    agg(k).synchronized { agg(k).jobs += 1 }
    jobKey.put(e.jobId, (k, e.time))
    e.stageIds.foreach(s => stageKey.put(s, k))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).foreach { case (k, t0) =>
      if (full) agg(k).synchronized { agg(k).jobIntervals += ((t0, e.time)) }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val sid = e.stageInfo.stageId
    val k = Option(stageKey.get(sid)).getOrElse((-1, -1))
    val a = agg(k)
    a.synchronized {
      a.stages += 1
      Option(taskTimes.remove(sid)).foreach { ts =>
        if (ts.size >= 2) {
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).max(1L)
          a.stageSkew += sorted.last.toDouble / med
        }
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = Option(stageKey.get(e.stageId)).getOrElse((-1, -1))
    val a = agg(k)
    a.synchronized {
      a.tasks += 1
      val m = e.taskMetrics
      if (full && m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecs += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecs += m.outputMetrics.recordsWritten
        taskTimes.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
          .synchronized { taskTimes.get(e.stageId) += e.taskInfo.duration }
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionStartMs.add(s.time)
    case _ => ()
  }
}

/** Catalyst phase times of every completed query execution. */
final class PlanCounters extends QueryExecutionListener {
  /** (phase start epoch ms, analysis s, optimization s, planning s) */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double, Double)]()
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(name: String) = ph.get(name).fold(0.0)(p => (p.endTimeMs - p.startTimeMs) / 1e3)
    val start = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(_ min _)
    executions.add((if (start == Long.MaxValue) 0L else start, s("analysis"), s("optimization"), s("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch phase durations of every streaming progress report. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  /** (trigger epoch ms, durationMs map, input rows, state rows) */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long], Long, Long)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum))
  }
}
