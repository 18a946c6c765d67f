package graft

/** Driver-contract smoke: the flagship entry yields rows on sf0.001 and
  * the registry is internally consistent. */
class SparkEntrySpec extends SparkSpec {

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.nonEmpty)
  }

  test("Verify.dump returns the failed query names and still writes " +
      "oracle_sql.json") {
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toFile
    out.deleteOnExit()
    // an unknown name fails before any input is read
    val failed = Verify.dump(spark, sfDir = "unused",
      out.getAbsolutePath, Seq("no_such_query"))
    assert(failed === Seq("no_such_query"))
    assert(new java.io.File(out, "oracle_sql.json").isFile)
  }

  test("all queries run on sf0.001 and stay deterministic across runs") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, q) =>
      val a = q(spark, dir).collect()
      val b = q(spark, dir).collect()
      assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
        s"$name not deterministic")
    }
  }
}
