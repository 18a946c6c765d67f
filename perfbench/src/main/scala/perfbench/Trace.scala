package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into the program. `parent` is the
  * enclosing span's id (0 at top level); spans of one call share `call`. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters summed over the jobs attributed to one call. */
final class TaskCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedulerDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (start, end) of each job in epoch millis, for time outside jobs */
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: TaskCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    schedulerDelayMs += o.schedulerDelayMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    jobWindows ++= o.jobWindows
  }
}

/** Listener the benchmark registers on the program's SparkContext. It
  * keeps raw job and task events; [[Tracer.countersByCall]] attributes
  * them to calls afterwards, by job group when the job carries one and
  * otherwise by the call whose wall interval holds the job's start (jobs
  * launched from the program's own threads carry no group). */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, group, e.time, e.time, e.stageIds))
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      tasks.add(Task(e.stageId, m.executorCpuTime, delay,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    events += 1
  }
}

object JobListener {
  final case class Job(id: Int, group: String, startMs: Long,
      var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, cpuNs: Long, delayMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

/** In-memory span and counter recorder. With tracing off, [[span]] only
  * runs the body, so untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var nextCall = 1
  private var currentCall = 0
  /** call id → (group name, epoch-ms window) for job attribution */
  private val callWindows = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  val listener = new JobListener

  def install(sc: SparkContext): Unit =
    if (enabled) sc.addSparkListener(listener)

  /** A top-level call: its own job group, one call id for its spans. */
  def call[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!enabled) return body
    val callId = nextCall
    nextCall += 1
    currentCall = callId
    val group = s"perfbench-$callId-$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try span(name)(body)
    finally {
      callWindows += ((callId, group, t0, System.currentTimeMillis()))
      sc.clearJobGroup()
      currentCall = 0
    }
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, currentCall, name, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Summed duration of spans with this name, in seconds. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  /** Waits until the listener bus has gone quiet, so every event of the
    * calls made so far has been delivered. */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = listener.events
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Task counters per call id. */
  def countersByCall(): Map[Int, TaskCounters] = {
    drain()
    val byGroup = callWindows.map { case (id, g, _, _) => g -> id }.toMap
    def callOf(j: JobListener.Job): Option[Int] =
      byGroup.get(j.group).orElse(callWindows.collectFirst {
        case (id, _, s, e) if j.startMs >= s && j.startMs <= e => id
      })
    val out = mutable.Map.empty[Int, TaskCounters]
    val stageCall = mutable.Map.empty[Int, Int]
    listener.jobs.values.asScala.foreach { j =>
      callOf(j).foreach { id =>
        val c = out.getOrElseUpdate(id, new TaskCounters)
        c.jobs += 1
        c.jobWindows += ((j.startMs, j.endMs))
        j.stages.foreach(stageCall(_) = id)
      }
    }
    listener.tasks.asScala.foreach { t =>
      stageCall.get(t.stage).foreach { id =>
        val c = out.getOrElseUpdate(id, new TaskCounters)
        c.tasks += 1; c.cpuNs += t.cpuNs; c.schedulerDelayMs += t.delayMs
        c.shuffleRead += t.shuffleRead; c.shuffleWrite += t.shuffleWrite
        c.spill += t.spill
      }
    }
    out.toMap
  }

  def callWindowMs(callId: Int): (Long, Long) =
    callWindows.collectFirst { case (`callId`, _, s, e) => (s, e) }
      .getOrElse((0L, 0L))

  /** Spans as JSON lines (id, parent, call, name, start/end in ns); a
    * call's top-level span also carries the call's task counters. */
  def writeSpans(path: java.nio.file.Path,
      counters: Map[Int, TaskCounters]): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = if (s.parent != 0) "" else counters.get(s.call).fold("") { c =>
        s""","jobs":${c.jobs},"tasks":${c.tasks},""" +
          s""""executor_cpu_s":${Json.num(c.cpuNs / 1e9)},""" +
          s""""scheduler_delay_s":${Json.num(c.schedulerDelayMs / 1e3)},""" +
          s""""shuffle_read_bytes":${c.shuffleRead},""" +
          s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill}"""
      }
      s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}$c}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Process-wide counters read through JMX and /proc. */
object Jvm {
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def jitSeconds: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime / 1e3
    else 0.0
  }

  /** Total whole-stage-codegen compile time so far: the histogram keeps
    * every sample's count, and its mean over the retained samples. */
  def codegenSeconds: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1e3
  }

  /** Lets the set-up's lazy work finish before timing starts: waits
    * (at most 15 s) until the JIT compiler has been idle for half a
    * second, then collects garbage. Returns the seconds waited. */
  def quiesce(): Double = {
    val t0 = System.nanoTime()
    var last = jitSeconds
    var idle = 0
    while (idle < 5 && System.nanoTime() - t0 < 15e9) {
      Thread.sleep(100)
      val now = jitSeconds
      if (now - last < 0.01) idle += 1 else idle = 0
      last = now
    }
    System.gc()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full collections, in MiB: what the program still
    * holds. The first collection lets Spark's ContextCleaner drop the
    * blocks of broadcasts and shuffles nothing references any more; the
    * second frees them. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
