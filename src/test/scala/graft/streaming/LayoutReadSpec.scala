package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Every read entry point of [[LayoutIngest]] on one fixed table: a
  * range-split generation (batches 0-3) under an L0 tail (batches 4
  * and 5), with a long bloom column (`id`) and a string bloom column
  * (`sid`). Pins the rows each read returns, its output columns, the
  * units it selects, and each refusal by its message. */
class LayoutReadSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val grid = LayoutIngest.Grid(Seq("x", "y"),
    Seq((0L, 99L), (0L, 99L)), bits = 4, bloomCols = Seq("id", "sid"))

  /** (id, x, y, sid, batch): ids 0-99 in batches 0-3 with x = id, ids
    * 100-149 in batches 4 and 5 with x over 0-24 and 75-99. */
  private val rows: Seq[(Long, Long, Long, String, Long)] =
    (0L until 150L).map { id =>
      val x = if (id < 100L) id else if (id < 125L) id - 100L else id - 50L
      (id, x, id * 13 % 100, s"s-$id", id / 25)
    }

  private lazy val table: String = {
    val dir = tmp("layout-read")
    LayoutIngest.bootstrap(spark, dir, grid)
    def ingest(b: Long): Unit = assert(LayoutIngest.ingestBatch(
      rows.filter(_._5 == b).map(r => (r._1, r._2, r._3, r._4))
        .toDF("id", "x", "y", "sid"), b, dir, 1))
    (0L until 4L).foreach(ingest)
    def dataBytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(dataBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30,
      targetFileBytes = dataBytes(new java.io.File(s"$dir/data")) / 4)
    (4L until 6L).foreach(ingest)
    dir
  }

  private val payload = Seq("id", "x", "y", "sid", "zkey")
  private val withBatch = payload :+ LayoutIngest.BatchCol

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  private def want(p: ((Long, Long, Long, String, Long)) => Boolean) =
    rows.filter(p).map(_._1)

  private def counts(sel: (Seq[org.apache.hadoop.fs.Path],
      Seq[org.apache.hadoop.fs.Path])): (Int, Int) =
    (sel._1.size, sel._2.size)

  private def rel(options: (String, String)*): DataFrame =
    spark.read.format("graft-layout").options(options.toMap).load(table)

  private def scanStats: (Int, Int) =
    (LayoutScanStats.lastUnitsRead, LayoutScanStats.lastUnitsLive)

  test("the fixed table: one range-split generation of 5 leaves under " +
      "two L0 units") {
    val tops = new java.io.File(s"$table/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(tops.length === 3 && tops.last.startsWith("gen-"))
    assert(tops.init.toSeq === Seq("batch-4", "batch-5"))
    assert(new java.io.File(s"$table/data/${tops.last}").listFiles()
      .count(_.getName.startsWith("range-")) === 5)
    assert(counts(LayoutIngest.prunedBoxDirs(spark, table,
      Seq(("x", Long.MinValue, Long.MaxValue)))) === (7, 7))
  }

  test("read: every live row, no provenance column") {
    val df = LayoutIngest.read(spark, table)
    assert(df.columns.toSeq === payload)
    assert(ids(df) === want(_ => true))
  }

  test("scanBox: box rows with __batch; stats pick the units") {
    val box = LayoutIngest.scanBox(spark, table, Seq(("x", 30L, 40L)))
    assert(box.columns.toSeq === withBatch)
    assert(ids(box) === want(r => r._2 >= 30L && r._2 <= 40L))
    assert(counts(LayoutIngest.prunedBoxDirs(spark, table,
      Seq(("x", 30L, 40L)))) === (4, 7))

    val two = Seq(("x", 0L, 20L), ("y", 0L, 50L))
    assert(ids(LayoutIngest.scanBox(spark, table, two)) ===
      want(r => r._2 <= 20L && r._3 <= 50L))
    assert(counts(LayoutIngest.prunedBoxDirs(spark, table, two)) === (4, 7))

    // no unit meets the box: one live unit is read for the schema
    val none = LayoutIngest.scanBox(spark, table, Seq(("x", 500L, 600L)))
    assert(none.columns.toSeq === withBatch)
    assert(none.count() === 0L)
    assert(counts(LayoutIngest.prunedBoxDirs(spark, table,
      Seq(("x", 500L, 600L)))) === (0, 7))
  }

  test("scanPoints/scanPointsStr: probed rows with __batch; blooms pick " +
      "the units") {
    val pts = LayoutIngest.scanPoints(spark, table, "id", Seq(42L, 110L))
    assert(pts.columns.toSeq === withBatch)
    assert(ids(pts) === Seq(42L, 110L))
    assert(counts(LayoutIngest.pointProbeDirs(spark, table, "id",
      Seq(42L, 110L))) === (2, 7))

    val strs = LayoutIngest.scanPointsStr(spark, table, "sid",
      Seq("s-7", "s-130"))
    assert(strs.columns.toSeq === withBatch)
    assert(ids(strs) === Seq(7L, 130L))
    assert(counts(LayoutIngest.pointProbeDirs(spark, table, "sid",
      Seq("s-7", "s-130"))) === (2, 7))

    val absent = LayoutIngest.scanPoints(spark, table, "id", Seq(100000L))
    assert(absent.columns.toSeq === withBatch)
    assert(absent.count() === 0L)
  }

  test("readSince/readAsOf/readBatchRange: the provenance views keep " +
      "__batch; the batch span picks the units") {
    val since = LayoutIngest.readSince(spark, table, 3L)
    assert(since.columns.toSeq === withBatch)
    assert(ids(since) === want(_._5 > 3L))
    assert(ids(LayoutIngest.readSince(spark, table, -1L)) === want(_ => true))
    assert(LayoutIngest.readSince(spark, table, 5L).count() === 0L)
    assert(counts(LayoutIngest.prunedBoxDirs(spark, table,
      Seq((LayoutIngest.BatchCol, 4L, Long.MaxValue)))) === (2, 7))

    val asOf = LayoutIngest.readAsOf(spark, table, 1L)
    assert(asOf.columns.toSeq === withBatch)
    assert(ids(asOf) === want(_._5 <= 1L))
    assert(ids(LayoutIngest.readAsOf(spark, table, 4L)) === want(_._5 <= 4L))

    val range = LayoutIngest.readBatchRange(spark, table, 2L, 4L)
    assert(range.columns.toSeq === withBatch)
    assert(ids(range) === want(r => r._5 >= 2L && r._5 <= 4L))
  }

  test("relation: pushed filters prune, the options pick the view; " +
      "LayoutScanStats counts the units") {
    val all = rel()
    assert(all.columns.toSeq === payload)
    assert(ids(all) === want(_ => true))
    assert(scanStats === (7, 7))

    assert(ids(rel().where(col("x").between(30L, 40L))) ===
      want(r => r._2 >= 30L && r._2 <= 40L))
    assert(scanStats === (4, 7))

    assert(ids(rel().where(col("id") === 42L)) === Seq(42L))
    assert(scanStats === (1, 7))

    assert(ids(rel().where(col("sid").isin("s-7", "s-130"))) ===
      Seq(7L, 130L))
    assert(scanStats === (2, 7))

    // nothing meets the filter: no unit is counted as read (one live
    // unit still gives the frame its schema)
    assert(rel().where(col("x") > 500L).count() === 0L)
    assert(scanStats === (0, 7))

    val since = rel("sinceBatch" -> "3")
    assert(since.columns.toSeq === withBatch)
    assert(ids(since) === want(_._5 > 3L))
    assert(scanStats === (2, 7))

    val asOf = rel("asOfBatch" -> "1")
    assert(asOf.columns.toSeq === payload)
    assert(ids(asOf) === want(_._5 <= 1L))
    assert(scanStats === (4, 7))
  }

  test("a table with no live units: every read is empty in its shape") {
    val dir = tmp("layout-read-empty")
    LayoutIngest.bootstrap(spark, dir, grid)
    val key = Seq("x", "y", "zkey")
    val read = LayoutIngest.read(spark, dir)
    assert(read.columns.toSeq === key && read.count() === 0L)
    // scanBox and scanPoints keep __batch here as on a table with units
    val withBatch = key :+ LayoutIngest.BatchCol
    val box = LayoutIngest.scanBox(spark, dir, Seq(("x", 0L, 9L)))
    assert(box.columns.toSeq === withBatch && box.count() === 0L)
    val pts = LayoutIngest.scanPoints(spark, dir, "x", Seq(1L))
    assert(pts.columns.toSeq === withBatch && pts.count() === 0L)
    val since = LayoutIngest.readSince(spark, dir, -1L)
    assert(since.columns.toSeq === withBatch)
    assert(since.count() === 0L)
    assert(LayoutIngest.readAsOf(spark, dir, 0L).count() === 0L)
    assert(counts(LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 0L, 9L)))) === (0, 0))
    assert(counts(LayoutIngest.pointProbeDirs(spark, dir, "x",
      Seq(1L))) === (0, 0))
  }

  test("refusals name their cause") {
    def refused(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(refused(LayoutIngest.scanBox(spark, table, Nil)) ===
      "requirement failed: scanBox: empty box")
    assert(refused(LayoutIngest.scanPoints(spark, table, "id", Nil)) ===
      "requirement failed: scanPoints: no values to probe")
    assert(refused(LayoutIngest.scanPointsStr(spark, table, "sid",
      Seq("s-1", null))) ===
      "requirement failed: scanPoints: null probe values are not " +
        "supported (isin never matches null; probe for nulls with " +
        "scanBox on a stats column)")
    val double = "bloom probe values must be Long or String, got " +
      "java.lang.Double"
    assert(refused(LayoutIngest.pointProbeDirs(spark, table, "id",
      Seq(1.5))) === double)
    assert(refused(LayoutIngest.scanPoints(spark, table, "id",
      Seq[Any](1.5).asInstanceOf[Seq[Long]])) === double)
    assert(refused(LayoutIngest.readSince(spark, table, -2L)) ===
      "requirement failed: readSince: afterBatch out of range: -2")
    assert(refused(LayoutIngest.readSince(spark, table, Long.MaxValue)) ===
      s"requirement failed: readSince: afterBatch out of range: " +
        s"${Long.MaxValue}")
    assert(refused(LayoutIngest.readAsOf(spark, table, -1L)) ===
      "requirement failed: readAsOf: batch must be >= 0: -1")

    // a unit written without __batch next to one ingested with it
    val mixed = tmp("layout-read-bare")
    LayoutIngest.bootstrap(spark, mixed, grid)
    Seq((1L, 1L, 1L, "s-1")).toDF("id", "x", "y", "sid")
      .withColumn("zkey", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(s"$mixed/data/batch-0")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$mixed/markers/batch-0"))
    assert(LayoutIngest.ingestBatch(Seq((2L, 2L, 2L, "s-2"))
      .toDF("id", "x", "y", "sid"), 1L, mixed, 1))
    val bare = "requirement failed: provenance read: unit batch-0 " +
      "predates the __batch column — its rows have no batch " +
      "attribution and would silently vanish from this view (regrid " +
      "to re-stamp the table, or read() for current state)"
    assert(refused(LayoutIngest.readSince(spark, mixed, -1L)) === bare)
    assert(refused(LayoutIngest.readAsOf(spark, mixed, 1L)) === bare)
    assert(refused(LayoutIngest.readBatchRange(spark, mixed, 0L, 1L)) ===
      bare)
    def relMixed(o: (String, String)) =
      spark.read.format("graft-layout").option(o._1, o._2).load(mixed)
    assert(refused(relMixed("sinceBatch" -> "0").count()) === bare)
    assert(refused(relMixed("asOfBatch" -> "1").count()) === bare)
    // the current-state reads serve both units
    assert(ids(LayoutIngest.read(spark, mixed)) === Seq(1L, 2L))
    assert(ids(spark.read.format("graft-layout").load(mixed)) ===
      Seq(1L, 2L))
  }
}
