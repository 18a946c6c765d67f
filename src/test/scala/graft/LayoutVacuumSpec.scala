package graft

import graft.streaming.LayoutIngest
import graft.streaming.LayoutIngest.DmlTarget.Boxes
import org.apache.spark.sql.functions._

/** [[LayoutIngest.vacuum]] — the retention sweep. Each debris class is
  * PLANTED exactly as the crash that creates it would leave it, then
  * vacuumed, asserting (a) the class-specific stat counted it, (b) the
  * physical listing is clean, and (c) the table's rows and provenance
  * views are untouched (vacuum is hygiene, never semantics). */
class LayoutVacuumSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val grid = LayoutIngest.Grid(
    Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4)

  private def rows(xs: Range): Seq[(Long, Long, Long)] =
    xs.map(i => (i.toLong, i.toLong, (i * 13 % 100).toLong))

  private def dataDirs(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/data").list())
      .map(_.toSet).getOrElse(Set.empty)

  test("clean table: vacuum is a no-op with all-zero stats") {
    val dir = tmp("vac-clean")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 100).toDF("id", "x", "y"), 0L, dir, 2))
    val before = dataDirs(dir)
    val st = LayoutIngest.vacuum(spark, dir)
    assert(st === LayoutIngest.VacuumStats(0, 0, 0, 0))
    assert(dataDirs(dir) === before)
    assert(LayoutIngest.read(spark, dir).count() === 100L)
  }

  test("a delete that empties a whole unit leaves a zero-row dir; " +
      "vacuum drops it and the views are unchanged") {
    val dir = tmp("vac-empty")
    LayoutIngest.bootstrap(spark, dir, grid)
    // two L0 units split on x: the box x<=49 empties the first exactly
    assert(LayoutIngest.ingestBatch(
      rows(0 until 50).toDF("id", "x", "y"), 0L, dir, 1))
    assert(LayoutIngest.ingestBatch(
      rows(50 until 100).toDF("id", "x", "y"), 1L, dir, 1))
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 0L, 49L)))), id = 0L))
    // premise: the rewrite PUBLISHED an empty replacement unit
    val withEmpty = dataDirs(dir)
    assert(withEmpty.size === 2, s"expected empty gen + batch-1: $withEmpty")
    assert(LayoutIngest.read(spark, dir).count() === 50L)
    val st = LayoutIngest.vacuum(spark, dir)
    assert(st.emptyUnitsDropped === 1 && st.dmlMarkersFolded === 1,
      s"stats: $st")
    assert(dataDirs(dir).size === 1)
    assert(LayoutIngest.read(spark, dir).count() === 50L)
    // provenance views survive the drop (no bare-unit complaint, no
    // resurrected rows)
    assert(LayoutIngest.readSince(spark, dir, 0L).count() === 50L)
    assert(LayoutIngest.readAsOf(spark, dir, 1L).count() === 50L)
    // the idempotence RECORDS are permanent but the marker FILES fold:
    // vacuum consolidates del-/upd- markers into one dml-log (class 5)
    // and a replay of either op must still no-op from the log
    assert(LayoutIngest.update(spark, dir,
      Boxes(Seq(Seq(("x", 60L, 62L)))), Seq("id" -> lit(-1L)), id = 0L))
    val st2 = LayoutIngest.vacuum(spark, dir)
    assert(st2.dmlMarkersFolded === 1, s"stats: $st2")
    val markers = Option(new java.io.File(s"$dir/markers").list())
      .map(_.toSet).getOrElse(Set.empty)
    assert(!markers.contains("del-0") && !markers.contains("upd-0") &&
      markers.count(_.startsWith("dml-log-")) === 1,
      s"DML markers must fold into ONE dml-log under vacuum: $markers")
    assert(!LayoutIngest.update(spark, dir,
      Boxes(Seq(Seq(("x", 60L, 62L)))), Seq("id" -> lit(-1L)), id = 0L),
      "a replayed update id must still no-op after the fold")
    assert(!LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 0L, 49L)))), id = 0L),
      "a replayed delete id must still no-op after the fold")
  }

  test("dead ingest stage and WAL-less gen stage are swept; live " +
      "data untouched") {
    val dir = tmp("vac-stages")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 100).toDF("id", "x", "y"), 0L, dir, 2))
    // a crashed writer's ingest stage (its id moved on — txn regime)
    val deadStage = new java.io.File(s"$dir/data.stage-7")
    deadStage.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(deadStage, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))
    // a crash-before-WAL compaction stage (no manifest)
    val genStage = new java.io.File(s"$dir/gen-deadbeef.stage")
    genStage.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(genStage, "part-junk.parquet").toPath,
      Array[Byte](4, 5, 6))
    val st = LayoutIngest.vacuum(spark, dir)
    assert(st.ingestStagesDropped === 1, s"stats: $st")
    assert(st.genStagesDropped === 1, s"stats: $st")
    assert(!deadStage.exists() && !genStage.exists())
    assert(LayoutIngest.read(spark, dir).count() === 100L)
  }

  test("vacuum against a LIVE streaming table: the stream keeps " +
      "ingesting (tail nest is short), reads stay exact") {
    implicit val sql = spark.sqlContext
    val dir = tmp("vac-live")
    LayoutIngest.bootstrap(spark, dir, grid)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)](900, spark)
    val q = LayoutIngest.start(input.toDF().toDF("id", "x", "y"),
      dir, tmp("vac-live-ck"))
    try {
      input.addData(rows(0 until 20)); q.processAllAvailable()
      // debris to sweep while the stream is attached
      val dead = new java.io.File(s"$dir/data.stage-42")
      dead.mkdirs()
      // GENUINE overlap, deterministic: a foreign thread HOLDS the
      // tail lock (a publishing micro-batch's critical section) while
      // vacuum runs — vacuum's nested tail section must WAIT it out
      // (bounded wait), not fail, and must not sweep from under it
      val inside = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        graft.streaming.LedgerLock.withLock(spark, dir) {
          inside.countDown()
          Thread.sleep(400)
        })
      holder.start()
      assert(inside.await(10, java.util.concurrent.TimeUnit.SECONDS))
      val st = LayoutIngest.vacuum(spark, dir)
      holder.join(10000)
      assert(st.ingestStagesDropped === 1)
      input.addData(rows(20 until 40)); q.processAllAvailable()
    } finally q.stop()
    assert(LayoutIngest.read(spark, dir)
      .select("id").as[Long].collect().toSet ===
      (0 until 40).map(_.toLong).toSet,
      "rows ingested before and after the vacuum must all be present")
  }

  test("vacuum replays a committed-but-unfinished manifest to " +
      "completion (the recoverCompact half)") {
    val dir = tmp("vac-manifest")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 50).toDF("id", "x", "y"), 0L, dir, 1))
    assert(LayoutIngest.ingestBatch(
      rows(50 until 100).toDF("id", "x", "y"), 1L, dir, 1))
    LayoutIngest.compact(spark, dir, smallFileBytes = 64L << 20)
    val afterFold = dataDirs(dir)
    assert(afterFold.exists(_.startsWith("gen-")), s"fold: $afterFold")
    // simulate the crash window: resurrect a committed manifest whose
    // sources are gone (replay must be a clean no-op, then drop it)
    val markers = new java.io.File(s"$dir/markers")
    val gen = afterFold.find(_.startsWith("gen-")).get
    val stamp = gen.stripPrefix("gen-")
    java.nio.file.Files.write(
      new java.io.File(markers, s"compact-$stamp.manifest").toPath,
      s"S\tbatch-0\nS\tbatch-1\nT\t$gen\nCOMMIT".getBytes("UTF-8"))
    val st = LayoutIngest.vacuum(spark, dir)
    assert(st.manifestsReplayed === 1, s"stats: $st")
    assert(!new java.io.File(markers, s"compact-$stamp.manifest").exists())
    assert(LayoutIngest.read(spark, dir).count() === 100L)
  }
}
