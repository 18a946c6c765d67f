package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Every entry point
  * (the `Manager` CLI, the demos, `Bench`, `Verify`, the dev runner and
  * the specs) builds its session here and passes only what differs
  * between them: master, shuffle width and application name. */
object GraftSession {

  /** Settings every graft session carries. */
  val conf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet stores TIMESTAMP(NANOS); read as long, converted in
    // the battery's events loader
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // SQL DML on the clustered table, the graft_* table functions and the
    // interval-join planner strategy
    "spark.sql.extensions" -> "graft.sql.GraftSqlExtensions",
    // typed aggregates (MinHashSig/SimhashVotes/KmvSketch) carry small
    // fixed buffers; the default 128-key fallback to sort-based
    // aggregation costs a full sort of the exploded input
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    // the battery's queries overflow the default 100-entry generated-class
    // cache: evicted classes were recompiled every rep (q40 measured ~5 s
    // in-battery against ~1.7 s in a fresh JVM). Static conf: it must be
    // set before the session exists.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A session on `master` with `shufflePartitions` shuffle partitions;
    * without `appName` Spark names the application itself. */
  def apply(master: String, shufflePartitions: Int,
      appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    appName.foreach(b.appName)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A command-line tool's session (`Manager`, `StreamLoadBench`): as
    * wide as this machine, `local[<cores>]` with one shuffle partition
    * per core, so a store the tool creates gets one bucket per core.
    * `SPARK_MASTER` overrides the master, `SPARK_GRAFT_CPUS` the
    * shuffle width. */
  private[graft] def cli(appName: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    apply(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"),
      sys.env.get("SPARK_GRAFT_CPUS").fold(cores)(_.toInt), Some(appName))
  }

  /** The battery drivers' session: `local[SPARK_GRAFT_CPUS]` (default 32)
    * with one shuffle partition per core. */
  def battery(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    apply(s"local[$cpus]", cpus)
  }
}
