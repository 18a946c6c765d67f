package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = session("local[4]")

  /** The suites' session on the given master: the shipped configuration
    * ([[GraftSession]]) with four shuffle partitions. */
  def session(master: String): SparkSession =
    GraftSession(master, 4, Some("graft-test"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
