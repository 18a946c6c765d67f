package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = session("local[4]")

  /** The suites' session on the given master: the shipped configuration
    * ([[GraftSession]]) with four shuffle partitions. */
  def session(master: String): SparkSession =
    GraftSession(master, 4, Some("graft-test"))

  /** Runs `mainClass` in a child JVM with this JVM's class path and module
    * flags (a JVM holds one SparkContext, so another master needs another
    * JVM) and returns its output lines; throws unless it exits 0. */
  def runInChildJvm(mainClass: String, args: String*): List[String] = {
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.zip(inherited.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") || a.startsWith("-Dspark.") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ opens ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    if (!(p.waitFor(10, TimeUnit.MINUTES) && p.exitValue() == 0))
      throw new AssertionError(s"$mainClass failed:\n${out.takeRight(40).mkString("\n")}")
    out
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
