package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = session("local[4]")

  /** The suites' session configuration on the given master. */
  def session(master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS) — same conf as Verify/Bench
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL DML on the clustered table (DELETE/MERGE routing)
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
