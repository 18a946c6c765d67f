package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * `battery`: read-only and table-building battery queries over the
 * generated corpus, one call at a time, in a seeded order per pass. A call
 * builds the query's DataFrame and counts it, as the project's Bench does.
 * Every call gets its own scratch root (the battery keys its table and
 * index dirs off `java.io.tmpdir`), so a table-building query really
 * ingests and rewrites its table instead of replaying the commit markers
 * of an earlier call.
 */
final class Calls(args: Args) extends Workload {
  private val names: Seq[String] =
    args.workload("queries").elements.asScala.map(_.asText).toSeq
  private val byPrefix: Map[String, (String, Calls.Q)] =
    SparkEntry.queries.map { case (k, f) => k.takeWhile(_ != '_') -> (k -> f) }
  private val rootBase = s"${args.work}/roots"
  private val resultDir = s"${args.work}/results"
  private var nextRoot = 0
  /** row count of each query's first successful call */
  private val rows = collection.mutable.Map.empty[String, Long]
  private val rnd = new SplittableRandom(args.seed)

  private def query(n: String): (String, Calls.Q) =
    byPrefix.getOrElse(n, throw new IllegalArgumentException(s"no battery query $n"))

  def prepare(): Unit = {
    Dirs.fresh(rootBase)
    Dirs.fresh(resultDir)
    // the oracle SQL of the measured queries, for run.py's DuckDB check
    val sql = SparkEntry.oracleSql
    val json = names.map(query(_)._1).flatMap(k => sql.get(k).map(k -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${args.work}/oracle_sql.json"), json)
  }

  /** Runs `body` with `java.io.tmpdir` pointing at a fresh, empty root,
    * removed afterwards. */
  private def inRoot[T](body: File => T): T = {
    val root = new File(s"$rootBase/$nextRoot")
    nextRoot += 1
    root.mkdirs()
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", root.getAbsolutePath)
    try body(root)
    finally {
      System.setProperty("java.io.tmpdir", saved)
      graft.operators.Dedup.releasePersisted()
      Dirs.delete(root)
    }
  }

  private def shuffled: Seq[String] = {
    val a = names.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** One untimed pass over every query, each on its own root. */
  def setup(spark: SparkSession): Unit =
    names.foreach { n =>
      inRoot(_ => query(n)._2(spark, args.corpus).count())
    }

  /** One call on a fresh root. The first successful call of each query
    * also writes its rows (untimed, before the root is removed) for the
    * oracle check run.py makes; every later call must return the same row
    * count. Traced, the call is split into build, planning and action
    * spans, and the files it left in its root are counted. */
  private def call(spark: SparkSession, n: String, rec: Recorder,
      tracer: Tracer): Unit = inRoot { root =>
    val (full, f) = query(n)
    var df: DataFrame = null
    val counted = rec.call(n)(tracer.call(spark.sparkContext, n) {
      df = tracer.span("queries.build")(f(spark, args.corpus))
      if (tracer.enabled)
        tracer.span("sql.planning")(df.queryExecution.executedPlan)
      tracer.span("spark.exec")(df.count())
    })
    if (tracer.enabled) {
      val files = Dirs.walk(root).toSeq
      written += ((files.size.toLong, files.map(_.length).sum,
        files.count(_.getPath.split(File.separatorChar).contains("markers")).toLong))
    }
    counted.foreach { c =>
      rows.get(n) match {
        case Some(want) => rec.check(s"$n row count", c, want)
        case None =>
          rows(n) = c
          try df.coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$full")
          catch { case e: Throwable => rec.problems += s"$n result write: $e" }
      }
    }
  }

  /** (files, bytes, marker files) left in each traced call's root */
  private val written = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def measure(spark: SparkSession, deadlineNs: Long, rec: Recorder): Unit = {
    val off = new Tracer(false)
    var first = true
    while (first || System.nanoTime() < deadlineNs) {
      val before = (rec.calls.size, rec.failed)
      shuffled.foreach(call(spark, _, rec, off))
      // a pass counts only when every call in it succeeded
      if (rec.failed == before._2)
        rec.passes += rec.calls.drop(before._1).map(_._2).sum
      first = false
    }
  }

  def traced(spark: SparkSession, tracer: Tracer, rec: Recorder): Unit = {
    shuffled.foreach(call(spark, _, rec, tracer))
    val counters = tracer.countersByCall()
    // tracer call ids run 1..n in the order the calls were made
    val driver = names.indices.map { i =>
      val (s, e) = tracer.callWindowMs(i + 1)
      val inJobs = counters.get(i + 1)
        .map(c => unionMs(c.jobWindows.toSeq, s, e)).getOrElse(0L)
      math.max(0L, (e - s) - inJobs) / 1e3
    }.sum
    rec.passes += rec.calls.map(_._2).sum
    rec.layer("queries.build_s", tracer.seconds("queries.build"), "s")
    rec.layer("sql.planning_s", tracer.seconds("sql.planning"), "s")
    rec.layer("spark.exec_s", tracer.seconds("spark.exec"), "s")
    rec.layer("streaming.driver_s", driver, "s")
    rec.layer("streaming.files_written", written.map(_._1).sum, "count")
    rec.layer("streaming.bytes_written", written.map(_._2).sum, "bytes")
    rec.layer("streaming.marker_files", written.map(_._3).sum, "count")
  }

  /** Milliseconds of [s, e] covered by the union of the job windows. */
  private def unionMs(windows: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var covered = 0L
    var reach = s
    windows.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

object Calls {
  type Q = (SparkSession, String) => DataFrame
}
