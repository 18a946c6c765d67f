package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py, which builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, corpus: String, out: String,
    config: JsonNode) {
  def workload(key: String): JsonNode = config.get("workloads").get(workload).get(key)
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv.getOrElse("corpus", ""), kv("out"),
      new ObjectMapper().readTree(new File(kv("config"))))
  }
}

/** What a run measured: call latencies, pass times, failed checks and the
  * per-layer metrics of a traced run. A failed call counts as attempted
  * and failed and is left out of the latencies. With `heapAfterCalls`,
  * the heap the program still holds after each successful call is read,
  * outside the call's latency, and the largest is kept. */
final class Recorder(heapAfterCalls: Boolean = false) {
  val calls = mutable.ArrayBuffer.empty[(String, Double)]
  val passes = mutable.ArrayBuffer.empty[Double]
  val problems = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val facts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  var retainedHeapMb = 0.0

  /** Times one call; returns its value, or None when it threw. */
  def call[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      calls += ((name, (System.nanoTime() - t0) / 1e9))
      if (heapAfterCalls)
        retainedHeapMb = math.max(retainedHeapMb, Jvm.retainedHeapMb())
      Some(v)
    } catch {
      case e: Throwable =>
        failed += 1
        problems += s"$name threw ${e.toString.take(400)}"
        None
    }
  }

  def check(what: String, got: Any, want: Any): Unit =
    if (got != want) problems += s"$what: got $got, want $want"

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)
}

/** A workload: inputs made from the seed, a set-up step that the run
  * repeats on fresh sessions, a closed loop of timed calls, and a traced
  * pass for the per-layer metrics. */
trait Workload {
  def prepare(): Unit
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, deadlineNs: Long, rec: Recorder): Unit
  def traced(spark: SparkSession, tracer: Tracer, rec: Recorder): Unit
}

object Main {
  /** Set-up reps per run: the first pays JIT and code generation, the
    * second shows set-up work a change moves out of the timed calls. */
  val SetupReps = 2

  /** The session the battery's Bench builds, sized to the available processors. */
  def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "10000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val rec = new Recorder(heapAfterCalls = !args.trace)
    val tracer = new Tracer(args.trace)
    val workload: Workload = args.workload match {
      case "cohort_etl" => new Etl(args)
      case "battery" => new Calls(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.prepare()

    // set-up, repeated on a fresh session each time; the median is setup_s
    val (jit0, cg0) = (Jvm.jitSeconds, Jvm.codegenSeconds)
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val (jitSetup, cgSetup) = (Jvm.jitSeconds - jit0, Jvm.codegenSeconds - cg0)
    rec.facts("quiesce_s") = Jvm.quiesce()
    tracer.install(spark.sparkContext)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      workload.measure(spark, deadline, rec)
      val lat = rec.calls.map(_._2).toIndexedSeq
      metrics("pass_s") = (Stats.median(rec.passes.toIndexedSeq), "s")
      // a run times under 20 calls of different kinds: their median would
      // jump between queries, the geometric mean weighs each call alike
      metrics("call_geomean_s") =
        (math.exp(lat.map(math.log).sum / lat.size), "s")
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("retained_heap_mb") = (rec.retainedHeapMb, "MiB")
    } else {
      workload.traced(spark, tracer, rec)
      val byCall = tracer.countersByCall()
      val counters = new TaskCounters
      byCall.values.foreach(counters.add)
      rec.layer("spark.jobs", counters.jobs, "count")
      rec.layer("spark.tasks", counters.tasks, "count")
      rec.layer("spark.scheduler_delay_s", counters.schedulerDelayMs / 1e3, "s")
      rec.layer("spark.executor_cpu_s", counters.cpuNs / 1e9, "s")
      rec.layer("spark.shuffle_read_bytes", counters.shuffleRead, "bytes")
      rec.layer("spark.shuffle_write_bytes", counters.shuffleWrite, "bytes")
      rec.layer("spark.spill_bytes", counters.spill, "bytes")
      rec.layer("jvm.jit_compile_s", jitSetup, "s")
      rec.layer("spark.codegen_compile_s", cgSetup, "s")
      rec.layer("jvm.gc_s", Jvm.gcSeconds, "s")
      rec.layer("jvm.peak_rss_mb", Jvm.peakRssMb, "MiB")
      rec.layer("trace.pass_s", Stats.median(rec.passes.toIndexedSeq), "s")
      metrics ++= rec.layers
      tracer.writeSpans(Paths.get(args.out + ".spans.jsonl"), byCall)
    }
    spark.stop()

    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val facts = rec.facts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    val problems = rec.problems.map(Json.str).mkString("[", ",", "]")
    val calls = rec.calls.map { case (n, t) => s"[${Json.str(n)},${Json.num(t)}]" }
      .mkString("[", ",", "]")
    val setupJson = setups.map(Json.num).mkString("[", ",", "]")
    Files.writeString(Paths.get(args.out),
      s"""{"correct":${rec.problems.isEmpty},"attempted":${rec.attempted},""" +
        s""""failed":${rec.failed},"metrics":$m,"facts":$facts,""" +
        s""""setup_reps_s":$setupJson,"calls":$calls,"problems":$problems}""")
    // threads the engine may have left behind must not keep the JVM alive
    sys.exit(0)
  }
}

object Stats {
  /** Median (NaN when empty). */
  def median(xs: IndexedSeq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Filesystem helpers for the scratch roots the runs write under. */
object Dirs {
  def walk(f: File): Iterator[File] =
    if (f.isDirectory)
      Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
    else if (f.exists) Iterator(f) else Iterator.empty

  def bytes(f: File): Long = walk(f).map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  def fresh(path: String): String = {
    val f = new File(path)
    delete(f)
    f.mkdirs()
    f.getAbsolutePath
  }
}
