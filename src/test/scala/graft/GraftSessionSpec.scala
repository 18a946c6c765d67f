package graft

import java.nio.file.{Files, Paths}

/** The session factory carries the shipped configuration, and the
  * benchmark harness's own session (`perfbench/.../Main.scala`, which
  * builds its session without the factory) sets the same values. */
class GraftSessionSpec extends SparkSpec {

  private val expected = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.sql.GraftSqlExtensions",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  test("the factory's session carries every shared key") {
    assert(GraftSession.conf.toMap == expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.appName == "graft-test")
  }

  test("perfbench's session sets the factory's values") {
    val src = new String(Files.readAllBytes(
      Paths.get("perfbench/src/main/scala/perfbench/Main.scala")), "UTF-8")
    // literal-valued .config("key", "value") calls; the warehouse and
    // local dirs and the shuffle width are computed, so they do not match
    val literal = """\.config\(\s*"([^"]+)",\s*"([^"]*)"\s*\)""".r
    val bench = literal.findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toMap
    assert(bench == expected)
  }
}
