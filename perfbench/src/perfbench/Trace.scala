package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with monotonic resolution, so spans
  * recorded by the benchmark line up with Spark listener timestamps
  * (epoch milliseconds).
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()
  def fromMs(ms: Long): Long = ms * 1000000L
  def secs(ns: Long): Double = ns / 1e9
}

final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** In-memory span log, written once when the run ends. A span's self time
  * is its duration minus the part of it that its children cover.
  */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)

  def add(parent: Long, name: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, name, start, end))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** name -> (count, total s, self s) */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start) - covered
      }.sum
      (name, ss.size, Clock.secs(total), Clock.secs(self))
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}}""")
    } finally w.close()
  }
}

/** Counters of one operation (or one measured window). */
final class Bucket {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskWallMs = 0L; var taskRunMs = 0L; var taskCpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val jobIntervals = mutable.Buffer.empty[(Long, Long)]
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L; var executions = 0
  def jobWallNs: Long = Stats.unionLength(jobIntervals.toSeq)
}

/** Counters gathered from Spark's public listener APIs, accumulated into a
  * bucket the benchmark swaps out at each operation boundary. `quiesce`
  * makes the swap exact: it runs a one-task marker job and waits until the
  * listener sees it end; the listener queue is FIFO, so every event of the
  * operation before it has been delivered by then.
  */
final class ExecListener(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val Marker = "perfbench.marker"
  private var cur = new Bucket
  private val jobStart = mutable.Map.empty[Int, Long]
  private val markerJobs = mutable.Set.empty[Int]
  private val markerStages = mutable.Set.empty[Int]
  @volatile private var markersSeen = 0L
  private var markersSent = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
      markerJobs += e.jobId; markerStages ++= e.stageIds
    } else { cur.jobs += 1; jobStart(e.jobId) = Clock.fromMs(e.time) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) markersSeen += 1
    else jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, Clock.fromMs(e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!markerStages.contains(e.stageInfo.stageId)) cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages.contains(e.stageId)) {
      cur.tasks += 1
      cur.taskWallMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuNs += m.executorCpuTime
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
    cur.executions += 1
  }

  /** Wait until every event posted before this call has been delivered. */
  def quiesce(): Unit = {
    markersSent += 1
    sc.setLocalProperty(Marker, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
    val deadline = System.nanoTime() + 10000000000L
    while (markersSeen < markersSent && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** Hand back the counters since the last swap and start a fresh bucket. */
  def swap(): Bucket = synchronized { val b = cur; cur = new Bucket; b }
}

/** JVM- and filesystem-level probes read at operation boundaries. */
object Probes {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }

  /** Aggregate CPU ticks of the machine from /proc/stat: (total, steal). */
  def cpu: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  /** Share of the machine's CPU time taken by the hypervisor between two
    * `cpu` readings: a busy co-tenant shows here, not in the program.
    */
  def stealFraction(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2).toDouble / (b._1 - a._1) else 0.0

  /** The JVM's own I/O counters from /proc/self/io: bytes and calls through
    * read and write system calls, files and sockets alike. Hadoop's
    * `file://` statistics are not used: parquet's vectored page reads bypass
    * them and the local filesystem counts no operations.
    */
  final case class Io(readBytes: Long, writeBytes: Long, readOps: Long, writeOps: Long) {
    def -(o: Io): Io = Io(readBytes - o.readBytes, writeBytes - o.writeBytes,
      readOps - o.readOps, writeOps - o.writeOps)
  }
  def io: Io = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    val kv = try src.getLines().map(_.split(":\\s*")).collect {
      case Array(k, v) => k -> v.trim.toLong
    }.toMap finally src.close()
    Io(kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L),
      kv.getOrElse("syscr", 0L), kv.getOrElse("syscw", 0L))
  }
}
