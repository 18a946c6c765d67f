package graft

import graft.operators.Layout
import graft.streaming.{LayoutIngest, LedgerLock}
import graft.streaming.LayoutIngest.DmlTarget.Boxes
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streamed clustered ingest: fixed-grid keys identical across batches
  * (≡ the batch operator over the union), the publish/commit crash
  * matrix, WAL-manifested compaction that restores non-overlapping
  * per-file key ranges, read correctness in every crash state, and the
  * single-writer lock. */
class LayoutIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val grid = LayoutIngest.Grid(
    Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4)

  private def rows(ids: Range): Seq[(Long, Long, Long)] =
    ids.map(i => (i.toLong, (i * 7 % 100).toLong, (i * 13 % 100).toLong))

  test("two-batch streamed ingest ≡ the batch fixed-grid operator; " +
      "replay is a no-op; out-of-bounds rows clamp") {
    implicit val sql = spark.sqlContext
    val dir = tmp("layout-ingest")
    val ck = tmp("layout-ingest-ck")
    LayoutIngest.bootstrap(spark, dir, grid)
    intercept[IllegalArgumentException] {
      LayoutIngest.bootstrap(spark, dir, grid) // re-grid is a rewrite
    }
    val input = MemoryStream[(Long, Long, Long)]
    def run(): Unit = {
      val q = LayoutIngest.start(
        input.toDF().toDF("id", "x", "y"), dir, ck,
        filesPerBatch = 2, availableNow = true)
      try q.processAllAvailable() finally q.stop()
    }
    input.addData(rows(0 until 50))
    run()
    input.addData(rows(50 until 100))
    run()
    val got = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    val want = Layout.withZOrderKeyFixed(
        rows(0 until 100).toDF("id", "x", "y"),
        Seq($"x", $"y"), grid.bounds, grid.bits, "zkey")
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(got === want,
      "per-batch keys must equal the batch operator's (fixed grid)")

    // replay of a committed batch: false, contents unchanged
    assert(!LayoutIngest.ingestBatch(
      rows(0 until 50).toDF("id", "x", "y"), 0L, dir, 2))
    assert(LayoutIngest.read(spark, dir).count() === 100)

    // the stream cadence folded the committed markers into the
    // watermark; a replay of a folded batch is a no-op via its rule
    assert(!LayoutIngest.ingestBatch(
      rows(50 until 100).toDF("id", "x", "y"), 1L, dir, 2))
    // rename-published but marker-less (crash between rename and
    // marker, before any fold could see the id): publish id 6
    // directly, drop its marker — replay re-stamps without duplicating
    assert(LayoutIngest.ingestBatch(
      rows(100 until 110).toDF("id", "x", "y"), 6L, dir, 2))
    val marker = java.nio.file.Paths.get(s"$dir/markers/batch-6")
    java.nio.file.Files.delete(marker)
    assert(LayoutIngest.ingestBatch(
      rows(100 until 110).toDF("id", "x", "y"), 6L, dir, 2))
    assert(java.nio.file.Files.exists(marker))
    assert(LayoutIngest.read(spark, dir).count() === 110)

    // a crash-leftover stage dir is garbage, replaced on re-ingest
    val stage = new java.io.File(s"$dir/data.stage-7")
    assert(stage.mkdirs())
    java.nio.file.Files.write(stage.toPath.resolve("junk"),
      "x".getBytes("UTF-8"))
    assert(LayoutIngest.ingestBatch(
      Seq((200L, 5L, 5L)).toDF("id", "x", "y"), 7L, dir, 1))
    assert(!stage.exists())
    assert(LayoutIngest.read(spark, dir).count() === 111)

    // out-of-bounds values clamp to the edge cells — never fail, and
    // the key equals the clamped coordinates' key
    assert(LayoutIngest.ingestBatch(
      Seq((300L, -50L, 500L)).toDF("id", "x", "y"), 8L, dir, 1))
    val clamped = LayoutIngest.read(spark, dir)
      .filter($"id" === 300L).select("zkey").as[Long].head()
    val edge = Layout.withZOrderKeyFixed(
        Seq((300L, 0L, 99L)).toDF("id", "x", "y"),
        Seq($"x", $"y"), grid.bounds, grid.bits, "zkey")
      .select("zkey").as[Long].head()
    assert(clamped === edge)
  }

  test("compaction folds small batch dirs into one re-clustered gen: " +
      "contents preserved, per-file key ranges non-overlapping, " +
      "crash states converge, reads correct throughout") {
    val dir = tmp("layout-compact")
    LayoutIngest.bootstrap(spark, dir, grid)
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 25 until (b + 1) * 25).toDF("id", "x", "y"),
        b.toLong, dir, 2))
    }
    val before = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toSet
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dataDirs.length === 1 && dataDirs.head.startsWith("gen-"),
      s"expected one gen dir, got ${dataDirs.mkString(",")}")
    assert(LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toSet === before)
    // the gen is re-clustered ACROSS the folded rows: per-file key
    // ranges are disjoint (repartitionByRange's contract, pinned
    // multi-file in LayoutSpec's clusterByZOrder test; at this tiny
    // size the fold targets one 8×-threshold output) and every file is
    // SORTED by the key — the statistics-tightening the fold exists for
    val genFiles = new java.io.File(s"$dir/data/${dataDirs.head}")
      .listFiles().filter(f => f.isFile &&
        f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val ranges = genFiles.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("zkey"), max("zkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping gen files: ${ranges.toSeq}")
      case _ => ()
    }
    genFiles.foreach { f =>
      val ks = spark.read.parquet(f).select("zkey").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"gen file $f not key-sorted")
    }
    // a second compact is a no-op (one dir left — nothing to fold)
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    assert(LayoutIngest.read(spark, dir).count() === 100)

    // crash matrix via fabricated WAL states. Committed manifest with
    // an unpublished stage: READ must still serve the sources (the
    // rename is the publish point) …
    val gen = dataDirs.head
    assert(LayoutIngest.ingestBatch(
      rows(100 until 125).toDF("id", "x", "y"), 10L, dir, 1))
    val stage = new java.io.File(s"$dir/gen-test1.stage")
    // stage a copy of batch-10 (simulating a compact that crashed
    // after the stage write + manifest, before the publish rename)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/data/batch-10"), stage)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/markers/compact-test1.manifest"),
      s"S\tbatch-10\nT\tgen-test1\nCOMMIT".getBytes("UTF-8"))
    assert(LayoutIngest.read(spark, dir).count() === 125,
      "unpublished compact: sources still live for readers")
    // … and mutator-side recovery completes it: publish, drop sources
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L) // recover only
    assert(!new java.io.File(s"$dir/data/batch-10").exists())
    assert(new java.io.File(s"$dir/data/gen-test1").exists())
    assert(LayoutIngest.read(spark, dir).count() === 125)
    assert(!new java.io.File(
      s"$dir/markers/compact-test1.manifest").exists())

    // an UNCOMMITTED manifest (crash mid-manifest-write) discards the
    // stage and touches nothing
    val stage2 = new java.io.File(s"$dir/gen-test2.stage")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/data/$gen"), stage2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/markers/compact-test2.manifest"),
      s"S\t$gen\nT\tgen-test2".getBytes("UTF-8"))
    assert(LayoutIngest.read(spark, dir).count() === 125,
      "uncommitted manifest must not hide sources")
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L)
    assert(!stage2.exists())
    assert(new java.io.File(s"$dir/data/$gen").exists())
    assert(LayoutIngest.read(spark, dir).count() === 125)
  }

  test("deleteBox rewrites ONLY the stats-affected dirs; survivors " +
      "keep their keys; replay is a marker no-op") {
    val dir = tmp("layout-delete")
    LayoutIngest.bootstrap(spark, dir, grid)
    // four batches with DISJOINT x ranges so the footer statistics are
    // decisive about which dirs a box delete must touch
    def batchRows(b: Int): Seq[(Long, Long, Long)] =
      (0 until 25).map(i =>
        ((b * 25 + i).toLong, (b * 25 + i).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("id", "x", "y"), b.toLong, dir, 1))
    }
    val before = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    // box x ∈ [30, 40]: only batch-1 (x 25..49) can contain matches
    assert(LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("x", 30L, 40L)))), 1L))
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(Seq("batch-0", "batch-2", "batch-3").forall(dataDirs),
      s"untouched dirs must survive unrewritten: $dataDirs")
    assert(!dataDirs("batch-1"), s"affected dir must be replaced: $dataDirs")
    assert(dataDirs.exists(_.startsWith("gen-del1-")), dataDirs.toString)
    val after = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(after.keySet === before.keySet.filterNot(id =>
      id >= 30 && id <= 40))
    assert(after.forall { case (id, k) => before(id) == k },
      "survivors must keep their exact keys")
    // replay: the marker short-circuits (false), contents unchanged
    assert(!LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("x", 30L, 40L)))), 1L))
    assert(LayoutIngest.read(spark, dir).count() === (100 - 11).toLong)
    // a 2-dim box spanning two dirs: both rewrite, others stay
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 20L, 28L), ("y", 0L, 99L)))), 2L))
    val dirs2 = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(Seq("batch-2", "batch-3").forall(dirs2), dirs2.toString)
    assert(!dirs2("batch-0"), dirs2.toString)
    val after2 = LayoutIngest.read(spark, dir)
      .select("id").as[Long].collect().toSet
    assert(after2 === (0L until 100L).toSet
      .filterNot(id => id >= 30 && id <= 40)
      .filterNot(id => id >= 20 && id <= 28))
  }

  test("hilbert-curve table: streamed keys ≡ the batch N-dim fixed " +
      "operator; the curve is a persisted table property") {
    val dir = tmp("layout-hilbert")
    val hgrid = LayoutIngest.Grid(
      Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      curve = "hilbert")
    LayoutIngest.bootstrap(spark, dir, hgrid)
    assert(LayoutIngest.readGrid(spark, dir).curve === "hilbert")
    (0 until 2).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 50 until (b + 1) * 50).toDF("id", "x", "y"),
        b.toLong, dir, 2))
    }
    val got = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    val want = Layout.withHilbertKeyNFixed(
        rows(0 until 100).toDF("id", "x", "y"),
        Seq($"x", $"y"), hgrid.bounds, hgrid.bits, "zkey")
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(got === want)
    // an unknown curve fails fast at bootstrap
    intercept[IllegalArgumentException] {
      LayoutIngest.bootstrap(spark, tmp("layout-badcurve"),
        hgrid.copy(curve = "peano"))
    }
    intercept[IllegalArgumentException] {
      LayoutIngest.bootstrap(spark, tmp("layout-1dh"),
        LayoutIngest.Grid(Seq("x"), Seq((0L, 9L)), 4, "hilbert"))
    }
  }

  test("scanBox prunes whole dirs from footer stats, result exact") {
    val dir = tmp("layout-scan")
    LayoutIngest.bootstrap(spark, dir, grid)
    // disjoint x per batch (the deleteBox fixture): stats decisive
    def batchRows(b: Int): Seq[(Long, Long, Long)] =
      (0 until 25).map(i =>
        ((b * 25 + i).toLong, (b * 25 + i).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("id", "x", "y"), b.toLong, dir, 1))
    }
    // x ∈ [30, 40] lives entirely in batch-1: one dir read, three pruned
    val (hit, live) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 30L, 40L)))
    assert(live.size === 4)
    assert(hit.map(_.getName) === Seq("batch-1"),
      s"expected only batch-1, got ${hit.map(_.getName)}")
    val got = LayoutIngest.scanBox(spark, dir, Seq(("x", 30L, 40L)))
      .select("id").as[Long].collect().sorted
    assert(got === (30L to 40L).toArray,
      "pruned scan must still return every matching row exactly")
    // residual filter: a box PARTIALLY covering a dir returns only the
    // matching rows of that dir
    val part = LayoutIngest.scanBox(spark, dir,
      Seq(("x", 20L, 30L), ("y", 0L, 99L)))
      .select("id").as[Long].collect().sorted
    assert(part === (20L to 30L).toArray)
    // an empty box intersection: zero dirs read, empty exact result
    val (hit0, _) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 500L, 600L)))
    assert(hit0.isEmpty)
    assert(LayoutIngest.scanBox(spark, dir,
      Seq(("x", 500L, 600L))).count() === 0L)
  }

  test("range-split compaction: a big fold publishes range-disjoint " +
      "leaf units under ONE atomic gen; pruning, reads and deletes " +
      "all operate at leaf granularity") {
    val dir = tmp("layout-split")
    LayoutIngest.bootstrap(spark, dir, grid)
    def batchRows(b: Int): Seq[(Long, Long, Long)] =
      (0 until 25).map(i =>
        ((b * 25 + i).toLong, (b * 25 + i).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("id", "x", "y"), b.toLong, dir, 1))
    }
    def dataBytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(dataBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val total = dataBytes(new java.io.File(s"$dir/data"))
    // target ≈ quarter of the fold → a 4-way range split
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30,
      targetFileBytes = total / 4)
    val tops = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory)
    assert(tops.length === 1 && tops.head.getName.startsWith("gen-"))
    val leaves = tops.head.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("range-"))
    assert(leaves.length >= 2,
      s"expected a range split, got ${tops.head.listFiles().toSeq}")
    // contents intact, keys preserved
    val all = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect()
    assert(all.map(_._1).sorted === (0L until 100L).toArray)
    // leaves are range-DISJOINT in the cluster key
    val ranges = leaves.map { d =>
      val r = spark.read.parquet(d.getAbsolutePath)
        .agg(min("zkey"), max("zkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping leaves: ${ranges.toSeq}")
      case _ => ()
    }
    // a box scan prunes at LEAF granularity inside the generation
    val (hit, live) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 30L, 40L)))
    assert(live.size === leaves.length)
    assert(hit.size < live.size,
      s"a thin x box must prune some leaves: ${hit.size}/${live.size}")
    assert(LayoutIngest.scanBox(spark, dir, Seq(("x", 30L, 40L)))
      .select("id").as[Long].collect().sorted === (30L to 40L).toArray)
    // a box delete rewrites only the intersecting leaves; the rest of
    // the generation survives untouched (leaf names are unique here —
    // a single gen)
    val (delHit, delLive) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 96L, 99L)))
    val hitNames = delHit.map(_.getName).toSet
    val surviveNames = delLive.map(_.getName).toSet -- hitNames
    assert(hitNames.nonEmpty && surviveNames.nonEmpty)
    assert(LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("x", 96L, 99L)))), 5L))
    val leavesAfter = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).flatMap { t =>
        val subs = t.listFiles().filter(d =>
          d.isDirectory && d.getName.startsWith("range-"))
        if (subs.isEmpty) Array(t.getName) else subs.map(_.getName)
      }.toSet
    assert(hitNames.forall(h => !leavesAfter.contains(h)),
      s"rewritten leaves must be replaced: $hitNames vs $leavesAfter")
    assert(surviveNames.forall(leavesAfter.contains),
      s"non-intersecting leaves must survive: $surviveNames vs $leavesAfter")
    assert(LayoutIngest.read(spark, dir)
      .select("id").as[Long].collect().sorted ===
      (0L until 96L).toArray)
  }

  test("publish-time stats sidecars: every published unit carries " +
      "one, pruning reads it in preference to the footers, and a " +
      "missing sidecar falls back to the footer walk") {
    val dir = tmp("layout-stats")
    LayoutIngest.bootstrap(spark, dir, grid)
    (0 until 3).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 20 until (b + 1) * 20).toDF("id", "x", "y"),
        b.toLong, dir, 2))
    }
    val units = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory)
    assert(units.length === 3)
    units.foreach { u =>
      val sc = new java.io.File(u, "_graft_stats.tsv")
      assert(sc.exists(), s"published unit $u must carry a sidecar")
      val cols = scala.io.Source.fromFile(sc).getLines()
        .map(_.split("\t")(0)).toSet
      assert(cols === Set("x", "y", "zkey", "__batch", "__rows"))
    }
    // PRIORITY: a sidecar claiming a disjoint x range makes pruning
    // exclude the unit even though its footers intersect — the
    // sidecar, not the footer walk, is what the pruner consumes
    // (fresh paths: nothing about this table is cached yet)
    val poisoned = units.head
    // write through the Hadoop FS (LocalFileSystem keeps a .crc
    // sidecar of its own — a raw write would just fail its checksum
    // and exercise the corrupt-sidecar fallback instead of priority)
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val po = hfs.create(new org.apache.hadoop.fs.Path(
      new java.io.File(poisoned, "_graft_stats.tsv").getAbsolutePath),
      true)
    po.write("x\t100000\t200000\ny\t100000\t200000\nzkey\t0\t0"
      .getBytes("UTF-8"))
    po.close()
    val (hit, live) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("x", 0L, 99L)))
    assert(live.size === 3 && hit.size === 2,
      s"poisoned sidecar must exclude its unit: ${hit.size}/${live.size}")
    // FALLBACK: units without a sidecar prune from the footers — on a
    // fresh table (uncached paths) with sidecars removed, a thin box
    // still prunes and the scan is exact
    val dir2 = tmp("layout-stats-fb")
    LayoutIngest.bootstrap(spark, dir2, grid)
    (0 until 3).foreach { b =>
      // batch b holds x in [b*20, b*20+19]: disjoint per-unit ranges
      assert(LayoutIngest.ingestBatch(
        (b * 20 until (b + 1) * 20).map(i =>
          (i.toLong, i.toLong, (i * 13 % 100).toLong))
          .toDF("id", "x", "y"),
        b.toLong, dir2, 2))
    }
    new java.io.File(s"$dir2/data").listFiles().filter(_.isDirectory)
      .zipWithIndex.foreach { case (u, i) =>
        val sc = new java.io.File(u, "_graft_stats.tsv")
        if (i == 0)
          // CORRUPT (raw write breaks the hadoop .crc): the reader
          // must degrade to the footer walk, not fail the scan
          java.nio.file.Files.write(sc.toPath,
            "garbage".getBytes("UTF-8"))
        else assert(sc.delete())
      }
    val (hit2, live2) = LayoutIngest.prunedBoxDirs(spark, dir2,
      Seq(("x", 0L, 19L)))
    assert(live2.size === 3 && hit2.size === 1,
      s"footer fallback must still prune: ${hit2.size}/${live2.size}")
    assert(LayoutIngest.scanBox(spark, dir2, Seq(("x", 0L, 19L)))
      .select("id").as[Long].collect().sorted === (0L to 19L).toArray)
  }

  test("bloom sidecars: point lookups on a NON-clustered column prune " +
      "units, never drop a present value, survive compaction and " +
      "deletes, and degrade conservatively without a bloom") {
    val dir = tmp("layout-bloom")
    LayoutIngest.bootstrap(spark, dir,
      grid.copy(bloomCols = Seq("id")))
    // ids are spread across batches so NO contiguous unit range could
    // answer an id probe — x/y stats are useless here, only the bloom
    // prunes (ids: batch b holds 4*i + b for i in 0..24)
    def batchRows(b: Int): Seq[(Long, Long, Long)] =
      (0 until 25).map(i => ((4 * i + b).toLong,
        (i * 7 % 100).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("id", "x", "y"), b.toLong, dir, 1))
    }
    val units = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory)
    units.foreach { u =>
      assert(new java.io.File(u, "_graft_bloom_id").exists(),
        s"published unit $u must carry the id bloom")
    }
    // exact scan + pruning: id 42 lives ONLY in batch 2 (42 = 4*10+2)
    assert(LayoutIngest.scanPoints(spark, dir, "id", Seq(42L))
      .select("id").as[Long].collect() === Array(42L))
    val (hit, live) = LayoutIngest.pointProbeDirs(spark, dir, "id",
      Seq(42L))
    assert(live.size === 4 && hit.size < 4,
      s"an id probe must bloom-prune some units: ${hit.size}/4")
    // no false negatives across EVERY id (the bloom contract)
    val all = LayoutIngest.scanPoints(spark, dir, "id",
      (0L until 100L).toSeq).select("id").as[Long].collect().sorted
    assert(all === (0L until 100L).toArray)
    // an absent value scans to empty (possibly via false positives)
    assert(LayoutIngest.scanPoints(spark, dir, "id", Seq(100000L))
      .count() === 0L)
    // compaction republishes blooms on the folded generation
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    LayoutIngest.clearStatsCache()
    assert(LayoutIngest.scanPoints(spark, dir, "id", Seq(42L))
      .select("id").as[Long].collect() === Array(42L))
    // a targeted delete rebuilds the rewritten unit's bloom; the
    // deleted slice is gone, the rest exact
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 0L, 0L)))), 3L)) // x==0 <=> i==0 <=> ids 0,1,2,3
    LayoutIngest.clearStatsCache()
    assert(LayoutIngest.scanPoints(spark, dir, "id",
      (0L until 100L).toSeq).select("id").as[Long].collect().sorted ===
      (4L until 100L).toArray)
    // bloom-less units (sidecar stripped) are read conservatively
    new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory)
      .foreach { u =>
        val leaves =
          if (u.listFiles().exists(d => d.isDirectory &&
            d.getName.startsWith("range-")))
            u.listFiles().filter(_.isDirectory).toSeq
          else Seq(u)
        leaves.foreach { l =>
          val b = new java.io.File(l, "_graft_bloom_id")
          if (b.exists()) assert(b.delete())
        }
      }
    LayoutIngest.clearStatsCache()
    val (hit2, live2) = LayoutIngest.pointProbeDirs(spark, dir, "id",
      Seq(42L))
    assert(hit2.size === live2.size,
      "without blooms every unit must be read")
    assert(LayoutIngest.scanPoints(spark, dir, "id", Seq(42L))
      .select("id").as[Long].collect() === Array(42L))
    // null probe values are rejected up front (isin never matches
    // null; letting one reach the bloom probe used to NPE)
    val en = intercept[IllegalArgumentException] {
      LayoutIngest.scanPointsStr(spark, dir, "id", Seq("a", null))
    }
    assert(en.getMessage.contains("null"), en.getMessage)
  }

  test("marker-ledger fold: the contiguous committed prefix becomes " +
      "ONE watermark file, replays of folded batches stay no-ops, ids " +
      "above a gap keep their markers, and crash leftovers converge") {
    val dir = tmp("layout-markers")
    LayoutIngest.bootstrap(spark, dir, grid)
    def markerNames: Set[String] =
      new java.io.File(s"$dir/markers").listFiles()
        .map(_.getName).filter(_.startsWith("batch")).toSet
    // ids 0,1,3 committed (2 in flight with a concurrent writer)
    Seq(0, 1, 3).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 10 until b * 10 + 10).toDF("id", "x", "y"),
        b.toLong, dir, 1))
    }
    LayoutIngest.compactMarkers(spark, dir)
    // fold stops at the gap: watermark 1, batch-3 keeps its marker
    assert(markerNames === Set("batch-upto-1", "batch-3"))
    // a replay of a FOLDED batch is still a no-op (watermark rule)
    assert(!LayoutIngest.ingestBatch(
      rows(0 until 10).toDF("id", "x", "y"), 0L, dir, 1))
    assert(LayoutIngest.read(spark, dir).count() === 30)
    // the gap commits -> the next fold absorbs everything
    assert(LayoutIngest.ingestBatch(
      rows(20 until 30).toDF("id", "x", "y"), 2L, dir, 1))
    LayoutIngest.compactMarkers(spark, dir)
    assert(markerNames === Set("batch-upto-3"))
    assert(!LayoutIngest.ingestBatch(
      rows(20 until 30).toDF("id", "x", "y"), 2L, dir, 1))
    // crash leftovers (superseded watermark + an already-folded
    // marker resurrected mid-delete) converge on the next fold
    new java.io.File(s"$dir/markers/batch-upto-1").createNewFile()
    new java.io.File(s"$dir/markers/batch-2").createNewFile()
    LayoutIngest.compactMarkers(spark, dir)
    assert(markerNames === Set("batch-upto-3"))
    assert(LayoutIngest.read(spark, dir).count() === 40)
    // the STREAM cadence folds markers as it goes: after an
    // availableNow run the dir holds one watermark, no batch tail
    implicit val sql = spark.sqlContext
    val dir2 = tmp("layout-markers-stream")
    val ck2 = tmp("layout-markers-stream-ck")
    LayoutIngest.bootstrap(spark, dir2, grid)
    val input = MemoryStream[(Long, Long, Long)]
    input.addData(rows(0 until 30))
    val q = LayoutIngest.start(
      input.toDF().toDF("id", "x", "y"), dir2, ck2,
      filesPerBatch = 1, availableNow = true)
    try q.processAllAvailable() finally q.stop()
    val names2 = new java.io.File(s"$dir2/markers").listFiles()
      .map(_.getName).filter(_.startsWith("batch")).toSet
    assert(names2.size === 1 && names2.head.startsWith("batch-upto-"),
      s"stream cadence must fold the marker tail, got $names2")
  }

  test("describe: one row per live unit with exact rows/bytes and the " +
      "pruner's column ranges; folded sources disappear from the view") {
    val dir = tmp("layout-describe")
    LayoutIngest.bootstrap(spark, dir, grid)
    (0 until 3).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 20 until (b + 1) * 20).toDF("id", "x", "y"),
        b.toLong, dir, 2))
    }
    val d1 = LayoutIngest.describe(spark, dir)
      .select("unit", "files", "rows").as[(String, Long, Long)]
      .collect().sortBy(_._1)
    assert(d1.map(_._1).toSeq === Seq("batch-0", "batch-1", "batch-2"))
    assert(d1.forall(_._2 === 2L), s"filesPerBatch=2: $d1")
    assert(d1.map(_._3).sum === 60L)
    // the view's ranges ARE the pruner's: x spans per batch
    val xr = LayoutIngest.describe(spark, dir)
      .select("unit", "col_mins", "col_maxs")
      .as[(String, Seq[Option[Long]], Seq[Option[Long]])]
      .collect().sortBy(_._1)
    xr.zipWithIndex.foreach { case ((_, mns, mxs), b) =>
      val want = rows(b * 20 until (b + 1) * 20).map(_._2)
      assert(mns.head === Some(want.min) && mxs.head === Some(want.max))
    }
    // compaction: sources leave the view, the gen arrives, rows exact
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    val d2 = LayoutIngest.describe(spark, dir)
      .select("unit", "rows").as[(String, Long)].collect()
    assert(d2.length === 1 && d2.head._1.startsWith("gen-") &&
      d2.head._2 === 60L, s"post-fold view: ${d2.toSeq}")
  }

  test("regrid: rewrite under a new grid into a fresh dir — clamped " +
      "rows get real keys, the result is range-split with fresh " +
      "sidecars, the source is untouched, a crashed stage is discarded") {
    val src = tmp("layout-regrid-src")
    // narrow grid: bounds 0..9 but data spans 0..99 — most rows clamp
    // to the edge cells and pruning degrades there
    LayoutIngest.bootstrap(spark, src, LayoutIngest.Grid(
      Seq("x", "y"), Seq((0L, 9L), (0L, 9L)), bits = 4))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 25 until (b + 1) * 25).toDF("id", "x", "y"),
        b.toLong, src, 1))
    }
    val oldKeys = LayoutIngest.read(spark, src)
      .select("zkey").distinct().count()
    def dataBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(dataBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val srcBytes = dataBytes(new java.io.File(s"$src/data"))

    val dst = tmp("layout-regrid") + "/t"
    // crashed-attempt leftover stage must be discarded, not resumed
    val junkStage = new java.io.File(dst + ".stage")
    assert(junkStage.mkdirs())
    java.nio.file.Files.write(junkStage.toPath.resolve("junk"),
      "x".getBytes("UTF-8"))
    val newGrid = LayoutIngest.Grid(Seq("x", "y"),
      Seq((0L, 99L), (0L, 99L)), bits = 4, bloomCols = Seq("id"))
    LayoutIngest.regrid(spark, src, dst, newGrid,
      targetFileBytes = math.max(1L, srcBytes / 4))
    assert(!junkStage.exists(), "stage must be consumed by the install")

    // contents exact under the NEW grid's key formula
    val got = LayoutIngest.read(spark, dst)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    val want = Layout.withZOrderKeyFixed(
        rows(0 until 100).toDF("id", "x", "y"),
        Seq($"x", $"y"), newGrid.bounds, 4, "zkey")
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(got === want)
    // de-clamping is the point: the wide grid separates rows the old
    // edge cells piled together
    assert(LayoutIngest.read(spark, dst)
      .select("zkey").distinct().count() > oldKeys)
    // range-split generation with working blooms on the new table
    val leaves = new java.io.File(s"$dst/data").listFiles()
      .filter(_.isDirectory).flatMap(t =>
        Option(t.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(d => d.isDirectory && d.getName.startsWith("range-")))
    assert(leaves.length >= 2, s"expected a split, got ${leaves.length}")
    assert(LayoutIngest.scanPoints(spark, dst, "id", Seq(42L))
      .select("id").as[Long].collect() === Array(42L))
    assert(LayoutIngest.scanBox(spark, dst, Seq(("x", 90L, 99L)))
      .select("id").as[Long].collect().sorted ===
      rows(0 until 100).filter(r => r._2 >= 90L).map(_._1).sorted.toArray)
    // the source is untouched
    assert(LayoutIngest.read(spark, src).count() === 100)
    assert(LayoutIngest.describe(spark, src).count() === 4)
    // a second regrid to the SAME dst refuses (dst exists)
    intercept[IllegalArgumentException] {
      LayoutIngest.regrid(spark, src, dst, newGrid)
    }
    // the new table's batch ledger is EMPTY: a fresh stream's first
    // micro-batches (ids 0, 1) must INGEST, not silently no-op
    // against the rewrite's own markers
    assert(LayoutIngest.ingestBatch(
      Seq((1000L, 50L, 50L)).toDF("id", "x", "y"), 0L, dst, 1),
      "batch 0 after regrid must publish, not replay-skip")
    assert(LayoutIngest.read(spark, dst).count() === 101)
  }

  test("provenance: __batch survives the fold, readSince/readAsOf are " +
      "exact, CDC prunes folded history at the file level, read() " +
      "hides the column") {
    val dir = tmp("layout-prov")
    LayoutIngest.bootstrap(spark, dir, grid)
    (0 until 2).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 20 until (b + 1) * 20).toDF("id", "x", "y"),
        b.toLong, dir, 2))
    }
    // fold batches 0-1 into one generation, then land a fresh batch 2
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    assert(LayoutIngest.ingestBatch(
      rows(40 until 60).toDF("id", "x", "y"), 2L, dir, 2))

    // the current-state read is provenance-free
    assert(!LayoutIngest.read(spark, dir).columns
      .contains(LayoutIngest.BatchCol))

    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    // row-level exactness THROUGH the fold (the gen holds 0 and 1)
    assert(ids(LayoutIngest.readAsOf(spark, dir, 0L)) === (0L until 20L))
    assert(ids(LayoutIngest.readAsOf(spark, dir, 1L)) === (0L until 40L))
    assert(ids(LayoutIngest.readSince(spark, dir, 1L)) === (40L until 60L))
    assert(ids(LayoutIngest.readSince(spark, dir, -1L)) === (0L until 60L))
    assert(LayoutIngest.readSince(spark, dir, 2L).count() === 0)
    // the consumer checkpoint column is present and exact
    assert(LayoutIngest.readSince(spark, dir, 1L)
      .agg(max(LayoutIngest.BatchCol)).as[Long].head() === 2L)

    // FILE-level pruning: the folded generation's sidecar spans
    // batches 0-1, so a CDC tail read must not even list it
    val (hit, live) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq((LayoutIngest.BatchCol, 2L, Long.MaxValue)))
    assert(live.size === 2, s"expected gen + batch-2: $live")
    assert(hit.map(_.getName) === Seq("batch-2"),
      s"CDC read must prune the folded gen, hit=$hit")

    // deletes are destructive ACROSS history (the RTBF contract):
    // as-of views never resurrect a forgotten row
    val victim = rows(5 to 5).head
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", victim._2, victim._2), ("y", victim._3, victim._3)))),
      id = 9L))
    assert(!ids(LayoutIngest.readAsOf(spark, dir, 1L)).contains(victim._1))

    // pre-provenance tables fail fast, not silently wrong
    val old = tmp("layout-prov-old")
    LayoutIngest.bootstrap(spark, old, grid)
    rows(0 until 5).toDF("id", "x", "y")
      .withColumn("zkey", lit(0L))
      .write.parquet(s"$old/data/batch-0")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      s"$old/markers/batch-0"))
    val e = intercept[IllegalArgumentException] {
      LayoutIngest.readSince(spark, old, -1L).count()
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
    // MIXED table: a post-provenance ingest next to the bare unit must
    // still fail (filtering would silently drop the old unit's rows —
    // its __batch reads as null under the stored schema), and the
    // error must name the offending unit
    assert(LayoutIngest.ingestBatch(
      rows(10 until 15).toDF("id", "x", "y"), 1L, old, 1))
    val e2 = intercept[IllegalArgumentException] {
      LayoutIngest.readAsOf(spark, old, 1L).count()
    }
    assert(e2.getMessage.contains("batch-0"), e2.getMessage)
    // current-state read still serves the whole mixed table
    assert(LayoutIngest.read(spark, old).count() === 10)
  }

  test("additive schema evolution: later batches add payload columns, " +
      "old units surface them as null through reads, folds and scans; " +
      "type conflicts fail fast") {
    val dir = tmp("layout-evolve")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 20).toDF("id", "x", "y"), 0L, dir, 2))
    // batch 1 arrives with a NEW payload column
    val withTag = rows(20 until 40).map { case (i, x, y) =>
      (i, x, y, s"t$i") }
    assert(LayoutIngest.ingestBatch(
      withTag.toDF("id", "x", "y", "tag"), 1L, dir, 2))
    val r1 = LayoutIngest.read(spark, dir)
    assert(r1.columns.contains("tag"))
    val tags = r1.select("id", "tag")
      .as[(Long, Option[String])].collect().toMap
    assert((0L until 20L).forall(tags(_).isEmpty),
      "pre-evolution rows must surface the new column as null")
    assert((20L until 40L).forall(i => tags(i).contains(s"t$i")))
    // a batch DROPPING the payload column is fine too
    assert(LayoutIngest.ingestBatch(
      rows(40 until 50).toDF("id", "x", "y"), 2L, dir, 2))
    // the fold normalizes everything to the stored union schema
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    val tops = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(tops.length === 1 && tops.head.startsWith("gen-"), tops.toSeq)
    val tags2 = LayoutIngest.read(spark, dir).select("id", "tag")
      .as[(Long, Option[String])].collect().toMap
    assert(tags2.size === 50 && tags2(5L).isEmpty && tags2(45L).isEmpty &&
      (20L until 40L).forall(i => tags2(i).contains(s"t$i")))
    // keys are untouched by evolution
    val got = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    val want = Layout.withZOrderKeyFixed(
        rows(0 until 50).toDF("id", "x", "y"),
        Seq($"x", $"y"), grid.bounds, grid.bits, "zkey")
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(got === want)
    // pruned scans and provenance reads keep the evolved schema
    assert(LayoutIngest.scanBox(spark, dir, Seq(("x", 0L, 9L)))
      .columns.contains("tag"))
    assert(LayoutIngest.readSince(spark, dir, 1L)
      .select("id").as[Long].collect().sorted === (40L until 50L).toArray)
    // an in-place UPDATE of the EVOLVED column applies to
    // pre-evolution rows too (readUnits rewrites under the stored
    // union schema, so the old unit materializes the column instead
    // of silently skipping the assignment)
    assert(LayoutIngest.update(spark, dir,
      Boxes(Seq(Seq(("x", 3L, 5L)))),
      Seq("tag" -> org.apache.spark.sql.functions.lit("redacted")),
      id = 0L))
    val tags3 = LayoutIngest.read(spark, dir).select("id", "x", "tag")
      .as[(Long, Long, Option[String])].collect()
    tags3.foreach { case (id, x, tag) =>
      if (x >= 3L && x <= 5L)
        assert(tag.contains("redacted"), s"row $id (x=$x): $tag")
      else assert(tag === tags2(id),
        s"row $id (x=$x) must be untouched: $tag vs ${tags2(id)}")
    }
    // a name reused at a different TYPE is refused at publish
    val bad = rows(50 until 55).map { case (i, x, y) => (i, x, y, i) }
    val e = intercept[IllegalArgumentException] {
      LayoutIngest.ingestBatch(bad.toDF("id", "x", "y", "tag"), 3L, dir, 2)
    }
    assert(e.getMessage.contains("ADDITIVE"), e.getMessage)
    // the refused batch published nothing: contents unchanged
    assert(LayoutIngest.read(spark, dir).count() === 50)
  }

  test("string bloom sidecars: point lookups on a high-cardinality " +
      "string column prune units and never drop a present value; " +
      "non-string/long bloom columns are refused") {
    val dir = tmp("layout-strbloom")
    LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
      Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("sid")))
    (0 until 4).foreach { b =>
      val batch = rows(b * 25 until (b + 1) * 25)
        .map { case (i, x, y) => (i, x, y, s"s-$i") }
      assert(LayoutIngest.ingestBatch(
        batch.toDF("id", "x", "y", "sid"), b.toLong, dir, 1))
    }
    // every probed value found, exactly (no false negatives)
    val got = LayoutIngest.scanPointsStr(spark, dir, "sid",
      Seq("s-7", "s-42", "s-93"))
      .select("id").as[Long].collect().sorted
    assert(got === Array(7L, 42L, 93L))
    // each value lives in ONE unit: the bloom must prune
    val (hit, live) = LayoutIngest.pointProbeDirs(spark, dir, "sid",
      Seq("s-7"))
    assert(live.size === 4 && hit.size < live.size,
      s"string bloom must prune, got ${hit.size}/${live.size}")
    // absent value: zero rows, and typically zero units opened
    assert(LayoutIngest.scanPointsStr(spark, dir, "sid",
      Seq("s-nope")).count() === 0)
    // a non-long/string bloom column is refused at publish
    val bad = tmp("layout-strbloom-bad")
    LayoutIngest.bootstrap(spark, bad, LayoutIngest.Grid(
      Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("d")))
    val e = intercept[IllegalArgumentException] {
      LayoutIngest.ingestBatch(
        rows(0 until 5).map { case (i, x, y) => (i, x, y, i.toDouble) }
          .toDF("id", "x", "y", "d"), 0L, bad, 1)
    }
    assert(e.getMessage.contains("LONG or STRING"), e.getMessage)
  }

  test("clusteringDepth: an unfolded L0 tail reports depth ~ unit " +
      "count, a fold collapses it to 1, a range-split stays 1") {
    val dir = tmp("layout-depth")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.clusteringDepth(spark, dir) === ((0, 0.0, 0)))
    // four batches over the SAME key domain: every key overlaps all
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 25 until (b + 1) * 25).toDF("id", "x", "y"),
        b.toLong, dir, 1))
    }
    val (mx1, mean1, n1) = LayoutIngest.clusteringDepth(spark, dir)
    assert(n1 === 4 && mx1 === 4, s"L0 tail: ($mx1, $mean1, $n1)")
    assert(mean1 > 2.0, s"same-domain batches must overlap: $mean1")
    // a sized fold range-splits into disjoint leaves: depth collapses
    def dataBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(dataBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30,
      targetFileBytes = math.max(1L,
        dataBytes(new java.io.File(s"$dir/data")) / 4))
    val (mx2, mean2, n2) = LayoutIngest.clusteringDepth(spark, dir)
    assert(n2 >= 2, s"expected a range-split, got $n2 units")
    assert(mx2 === 1 && mean2 === 1.0,
      s"disjoint leaves must report depth 1: ($mx2, $mean2, $n2)")
  }

  test("deleteBox NULL safety + empty units: rows whose box column " +
      "reads NULL survive a conservative rewrite, a delete that " +
      "empties a unit leaves every view working, and an empty " +
      "micro-batch publishes a marker but no unit") {
    val dir = tmp("layout-nulldel")
    LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
      Seq("x", "y"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("id")))
    assert(LayoutIngest.ingestBatch(
      rows(0 until 20).toDF("id", "x", "y"), 0L, dir, 1))
    // batch 1 evolves: adds a long payload column
    assert(LayoutIngest.ingestBatch(
      rows(20 until 40).map { case (i, x, y) => (i, x, y, i) }
        .toDF("id", "x", "y", "score"), 1L, dir, 1))
    // batch 2: a row whose GRID column is null (folds to the min cell)
    assert(LayoutIngest.ingestBatch(
      Seq((100L, Option.empty[Long], Option(50L)))
        .toDF("id", "x", "y"), 2L, dir, 1))

    // delete on the EVOLVED column: batch-0's unit reads score=NULL
    // for every row and has no score stats → conservatively
    // rewritten; under the naive NOT(range) predicate all its rows
    // evaluated NULL and were silently destroyed
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("score", 25L, 30L)))), id = 1L))
    val want1 = ((0L until 20L) ++
      (20L until 40L).filterNot(i => i >= 25 && i <= 30) ++
      Seq(100L)).sorted.toArray
    assert(LayoutIngest.read(spark, dir).select("id")
      .as[Long].collect().sorted === want1)

    // delete on a GRID column: the null-x row (y=50) must survive a
    // box that includes its y — NULL is "not provably in the box"
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 0L, 99L), ("y", 50L, 50L)))), id = 2L))
    assert(LayoutIngest.read(spark, dir).select("id")
      .as[Long].collect().sorted === want1)

    // empty a WHOLE unit: batch 3 lands alone in the far corner cell
    assert(LayoutIngest.ingestBatch(
      Seq((200L, 99L, 99L), (201L, 99L, 99L)).toDF("id", "x", "y"),
      3L, dir, 1))
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 99L, 99L), ("y", 99L, 99L)))), id = 3L))
    // the zero-row unit is trivially prunable, NOT "pre-provenance":
    // every view keeps working
    assert(LayoutIngest.read(spark, dir).select("id")
      .as[Long].collect().sorted === want1)
    assert(LayoutIngest.readSince(spark, dir, -1L).select("id")
      .as[Long].collect().sorted === want1)
    assert(LayoutIngest.readAsOf(spark, dir, 3L).count() === want1.length)

    // an EMPTY micro-batch (routine in streams): marker committed,
    // replay is a no-op, no data dir published, blooms don't crash
    assert(LayoutIngest.ingestBatch(
      rows(0 until 0).toDF("id", "x", "y"), 4L, dir, 1))
    assert(!LayoutIngest.ingestBatch(
      rows(0 until 0).toDF("id", "x", "y"), 4L, dir, 1),
      "replay of the committed empty batch must be a no-op")
    assert(!new java.io.File(s"$dir/data/batch-4").exists(),
      "an empty batch must not publish a unit")
    assert(LayoutIngest.readSince(spark, dir, 3L).count() === 0)
  }

  test("compact/deleteBox adopt a published-but-unmarked batch dir " +
      "(crash between rename and marker): the orphan is stamped before " +
      "unit selection, so a fold cannot orphan its id and the stream's " +
      "replay is a no-op instead of a row-duplicating re-ingest") {
    val dir = tmp("layout-orphan")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 20).toDF("id", "x", "y"), 0L, dir, 2))
    assert(LayoutIngest.ingestBatch(
      rows(20 until 40).toDF("id", "x", "y"), 1L, dir, 2))
    // simulate the crash window: batch 1 published, marker gone
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/markers/batch-1"))
    // compact folds BOTH units (huge small-file threshold) — before the
    // fix this folded batch-1's rows into the gen while leaving the id
    // uncommitted, so the replay below re-ingested all 20 rows
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
    val tops = Option(new java.io.File(s"$dir/data").listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName).toSeq
    assert(tops.exists(_.startsWith("gen-")), s"expected a fold: $tops")
    assert(!LayoutIngest.ingestBatch(
      rows(20 until 40).toDF("id", "x", "y"), 1L, dir, 2),
      "replay of the adopted batch must be a no-op")
    assert(LayoutIngest.read(spark, dir).count() === 40)

    // same window against deleteBox: batch 2 published-unmarked, a
    // delete that rewrites its unit must not let the replay resurrect
    // the deleted rows
    assert(LayoutIngest.ingestBatch(
      rows(40 until 60).toDF("id", "x", "y"), 2L, dir, 2))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/markers/batch-2"))
    assert(LayoutIngest.delete(spark, dir,
      Boxes(Seq(Seq(("x", 0L, 99L), ("y", 0L, 99L)))), id = 1L))
    assert(!LayoutIngest.ingestBatch(
      rows(40 until 60).toDF("id", "x", "y"), 2L, dir, 2),
      "replay after the delete must be a no-op, not a resurrection")
    assert(LayoutIngest.read(spark, dir).count() === 0)
  }

  test("mergeRows: row-keyed upsert rewrites ONLY the key-affected " +
      "units (bloom-pruned past the stats range), inserts new keys as " +
      "one provenance-stamped batch, replays to an O(1) no-op") {
    val dir = tmp("layout-merge")
    LayoutIngest.bootstrap(spark, dir,
      grid.copy(bloomCols = Seq("id")))
    // disjoint id ranges per batch: the stats range [30, 200] of the
    // merge keys intersects batches 1..3, so only the BLOOMS can
    // narrow the rewrite to batch-1 — the pruning ladder under test
    def batchRows(b: Int): Seq[(Long, Long, Long)] =
      (0 until 25).map(i =>
        ((b * 25 + i).toLong, (b * 25 + i).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("id", "x", "y"), b.toLong, dir, 1))
    }
    val before = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    // two updates (new y → new key) + one brand-new id: the upsert
    val updates = Seq((30L, 30L, 1L), (35L, 35L, 2L), (200L, 50L, 50L))
      .toDF("id", "x", "y")
    val expectedKeys = Layout.withZOrderKeyFixed(updates,
        Seq(col("x"), col("y")), grid.bounds, grid.bits, "zkey")
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 4L))
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(Seq("batch-0", "batch-2", "batch-3").forall(dataDirs),
      s"bloom-excluded units must survive unrewritten: $dataDirs")
    assert(!dataDirs("batch-1"), s"affected unit must be replaced: $dataDirs")
    assert(dataDirs.exists(_.startsWith("gen-merge4-")), dataDirs.toString)
    assert(dataDirs("batch-4"), s"the updates must land as a batch: $dataDirs")
    val after = LayoutIngest.read(spark, dir)
      .select("id", "zkey").as[(Long, Long)].collect().toMap
    assert(after.keySet === before.keySet + 200L,
      "merge must replace, never duplicate; insert the new key")
    assert(after(30L) === expectedKeys(30L) &&
      after(35L) === expectedKeys(35L) && after(200L) === expectedKeys(200L),
      "merged rows must carry the UPDATE rows' keys")
    assert((after - 30L - 35L - 200L).forall { case (id, k) =>
      before(id) == k }, "untouched rows keep their exact keys")
    // CDC: the merge batch is ordinary provenance — consumers see the
    // upserts as new rows of batch 4
    assert(LayoutIngest.readSince(spark, dir, 3L)
      .select("id").as[Long].collect().toSet === Set(30L, 35L, 200L))
    // replay: marker short-circuit, contents unchanged
    assert(!LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 4L))
    assert(LayoutIngest.read(spark, dir).count() === 101L)
    // freshness guard: an already-committed id would delete without
    // appending — refused before any mutation
    val e = intercept[IllegalArgumentException] {
      LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 2L)
    }
    assert(e.getMessage.contains("already committed"), e.getMessage)
    // duplicate keys in one batch: last-wins is undefined — refused
    val e2 = intercept[IllegalArgumentException] {
      LayoutIngest.mergeRows(spark, dir, "id",
        Seq((7L, 1L, 1L), (7L, 2L, 2L)).toDF("id", "x", "y"),
        batchId = 5L)
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
  }

  test("mergeRows with a STRING key: bloom-only pruning (no long " +
      "range sidecar), same upsert semantics") {
    val dir = tmp("layout-merge-str")
    LayoutIngest.bootstrap(spark, dir, grid.copy(bloomCols = Seq("sid")))
    def batchRows(b: Int): Seq[(String, Long, Long)] =
      (0 until 25).map(i =>
        (s"d${b * 25 + i}", (b * 25 + i).toLong, (i * 13 % 100).toLong))
    (0 until 4).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        batchRows(b).toDF("sid", "x", "y"), b.toLong, dir, 1))
    }
    // string keys carry NO min/max sidecar range — only the blooms can
    // prune; d30/d35 live in batch-1, d200 nowhere
    val updates = Seq(("d30", 30L, 1L), ("d35", 35L, 2L),
      ("d200", 50L, 50L)).toDF("sid", "x", "y")
    assert(LayoutIngest.mergeRows(spark, dir, "sid", updates, batchId = 4L))
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(Seq("batch-0", "batch-2", "batch-3").forall(dataDirs),
      s"bloom-excluded units must survive unrewritten: $dataDirs")
    assert(!dataDirs("batch-1"), s"affected unit must be replaced: $dataDirs")
    val after = LayoutIngest.read(spark, dir)
      .select("sid", "y").as[(String, Long)].collect().toMap
    assert(after.size === 101)
    assert(after("d30") === 1L && after("d35") === 2L &&
      after("d200") === 50L, "merged rows must carry the update values")
    // a non-bloom key type is refused
    val e = intercept[IllegalArgumentException] {
      LayoutIngest.mergeRows(spark, dir, "y",
        Seq((1.0, 1L)).toDF("yy", "x").withColumn("y", col("yy")),
        batchId = 5L)
    }
    assert(e.getMessage.contains("LONG or STRING"), e.getMessage)
  }

  test("mergeRows: an EMPTY merge burns its id in the batch ledger — " +
      "a later stream batch can never reuse it") {
    val dir = tmp("layout-merge-empty")
    LayoutIngest.bootstrap(spark, dir, grid.copy(bloomCols = Seq("id")))
    assert(LayoutIngest.ingestBatch(
      rows(0 until 10).toDF("id", "x", "y"), 0L, dir, 1))
    val none = Seq.empty[(Long, Long, Long)].toDF("id", "x", "y")
    assert(LayoutIngest.mergeRows(spark, dir, "id", none, batchId = 1L))
    assert(new java.io.File(s"$dir/markers/batch-1").exists(),
      "the empty merge must stamp the batch marker too")
    // the id is committed: a stream's replay of it is a silent no-op
    // (the ingestBatch contract), so the rows can never double-land
    assert(!LayoutIngest.ingestBatch(
      rows(10 until 20).toDF("id", "x", "y"), 1L, dir, 1),
      "a later batch under the burned id must be a no-op replay")
    assert(LayoutIngest.read(spark, dir).count() === 10L)
    // and a SECOND merge under the id is the marker short-circuit
    assert(!LayoutIngest.mergeRows(spark, dir, "id", none, batchId = 1L))
    val h = LayoutIngest.history(spark, dir)
      .select("kind", "id", "committed")
      .as[(String, Long, Boolean)].collect().toSet
    assert(h.contains(("merge", 1L, true)) &&
      (h.contains(("ingest", 1L, true)) ||
        h.contains(("ingest-upto", 1L, true))), h.toString)
  }

  test("mergeRows: a NON-DETERMINISTIC updates plan (and a plan over " +
      "THIS table's own files) is materialized once — the deleted key " +
      "set and the appended rows can never disagree") {
    val dir = tmp("layout-merge-snap")
    LayoutIngest.bootstrap(spark, dir, grid.copy(bloomCols = Seq("id")))
    assert(LayoutIngest.ingestBatch(
      rows(0 until 50).toDF("id", "x", "y"), 0L, dir, 1))
    // updates derived from the LIVE TABLE ITSELF (the case the old
    // contract forbade: the rewrite retires the very units the plan
    // scans) THROUGH a non-deterministic filter: without the eager
    // snapshot, the key collect, the anti-join and the append would
    // each re-execute this plan and could pick DIFFERENT rows
    val updates = LayoutIngest.read(spark, dir)
      .filter(rand(7) >= 0.0 && col("id") < 10L) // rand: nondeterministic
      .select(col("id"), col("x"), (col("y") + 1000L).as("y"))
    assert(LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 1L))
    val after = LayoutIngest.read(spark, dir)
      .select("id", "y").as[(Long, Long)].collect().toMap
    assert(after.size === 50, s"no loss, no dup: ${after.size}")
    (0L until 10L).foreach(i => assert(after(i) >= 1000L,
      s"id $i must carry the update row, got y=${after(i)}"))
    (10L until 50L).foreach(i => assert(after(i) < 1000L))
  }

  test("mergeRows applies AT its ledger position: rows of batches " +
      "above the merge id survive a crash replay (a live stream's " +
      "concurrent publishes are never merged away)") {
    val dir = tmp("layout-merge-pos")
    LayoutIngest.bootstrap(spark, dir, grid.copy(bloomCols = Seq("id")))
    assert(LayoutIngest.ingestBatch(
      rows(0 until 25).toDF("id", "x", "y"), 0L, dir, 1))
    val updates = Seq((10L, 10L, 1L)).toDF("id", "x", "y")
    assert(LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 1L))
    // crash window: commit marker lost, intent standing — and BEFORE
    // the replay runs, a live stream publishes batch 2 that re-inserts
    // key 10 (the racy-client case). The replay's rewrites must leave
    // batch 2's row alone: the merge happened at position 1.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/markers/merge-1"))
    new java.io.File(s"$dir/markers/merge-1.intent").createNewFile()
    assert(LayoutIngest.ingestBatch(
      Seq((10L, 77L, 77L)).toDF("id", "x", "y"), 2L, dir, 1))
    assert(LayoutIngest.mergeRows(spark, dir, "id", updates, batchId = 1L))
    val tens = LayoutIngest.readSince(spark, dir, -1L)
      .filter(col("id") === 10L)
      .select(LayoutIngest.BatchCol).as[Long].collect().sorted.toSeq
    assert(tens === Seq(1L, 2L),
      s"the merge row (batch 1) AND the later insert (batch 2) must " +
        s"both survive, got batches $tens")
  }

  test("filesystem contract: a TORN publish rename (the non-atomic-" +
      "rename state the object doc excludes) fails reads LOUDLY; a " +
      "crash under atomic rename leaves only a stage dir readers " +
      "never see") {
    val dir = tmp("layout-torn")
    LayoutIngest.bootstrap(spark, dir, grid)
    assert(LayoutIngest.ingestBatch(
      rows(0 until 20).toDF("id", "x", "y"), 0L, dir, 1))
    // the ATOMIC-rename crash state: a leftover write stage. Readers
    // list only data/ subdirs — the table stays exactly batch 0 — and
    // the batch's replay discards the garbage stage and publishes.
    val stage = new java.io.File(s"$dir/data.stage-1")
    stage.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(stage, "part-garbage.parquet").toPath,
      Array.fill[Byte](64)(7))
    assert(LayoutIngest.read(spark, dir).count() === 20L)
    assert(LayoutIngest.ingestBatch(
      rows(20 until 40).toDF("id", "x", "y"), 1L, dir, 1))
    assert(LayoutIngest.read(spark, dir).count() === 40L)
    assert(!stage.exists(), "the replay must discard the crashed stage")
    // the TORN state (plain-S3A "rename" = copy+delete observed
    // mid-copy): a half-copied file inside a visible batch dir. The
    // publish-point rule makes the dir live — correctness demands the
    // read FAIL, not silently drop or misread rows.
    val full = new java.io.File(s"$dir/data/batch-1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(full.toPath)
    val torn = new java.io.File(s"$dir/data/batch-2")
    torn.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(torn, full.getName).toPath,
      bytes.take(bytes.length / 2))
    val e = intercept[Exception] {
      LayoutIngest.read(spark, dir).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(e).exists(_.toLowerCase.contains("parquet")),
      s"expected a loud parquet read failure, got: ${chain(e)}")
  }

  test("history: one row per committed op — folded ingests keep their " +
      "commitment (null mtime), tail/delete/merge keep mtimes, a " +
      "standing merge intent reports committed = false") {
    val dir = tmp("layout-history")
    LayoutIngest.bootstrap(spark, dir, grid.copy(bloomCols = Seq("id")))
    (0 until 3).foreach { b =>
      assert(LayoutIngest.ingestBatch(
        rows(b * 10 until (b + 1) * 10).toDF("id", "x", "y"),
        b.toLong, dir, 1))
    }
    LayoutIngest.compactMarkers(spark, dir) // folds 0..2 into upto-2
    assert(LayoutIngest.ingestBatch(
      rows(40 until 50).toDF("id", "x", "y"), 4L, dir, 1)) // gap at 3
    assert(LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("x", 0L, 5L)))), 7L))
    assert(LayoutIngest.mergeRows(spark, dir, "id",
      Seq((8L, 8L, 8L)).toDF("id", "x", "y"), batchId = 3L))
    // a crashed merge: intent standing, no commit marker
    new java.io.File(s"$dir/markers/merge-11.intent").createNewFile()
    val h = LayoutIngest.history(spark, dir)
      .select("kind", "id", "committed")
      .as[(String, Long, Boolean)].collect().toSet
    // the folded prefix is ONE ingest-upto row (O(markers), never
    // O(stream lifetime)); the merge-append 3 and batch 4 are tail rows
    assert(h.contains(("ingest-upto", 2L, true)), h.toString)
    assert(h.filter(_._1 == "ingest").map(_._2) === Set(3L, 4L),
      s"tail ingests 3 (merge append) + 4: $h")
    assert(h.contains(("delete", 7L, true)))
    assert(h.contains(("merge", 3L, true)))
    assert(h.contains(("merge", 11L, false)),
      "a standing intent must surface as an uncommitted merge")
    // tail markers carry their file mtimes
    val m = LayoutIngest.history(spark, dir)
      .select("kind", "id", "at_ms")
      .as[(String, Long, Option[Long])].collect()
      .filter(_._1 == "ingest").map(t => t._2 -> t._3.isDefined).toMap
    assert(m(3L) && m(4L), m.toString)
  }

  test("lock split: maintenance holders exclude each other but never " +
      "stall the tail; the tail lock never stalls a fold") {
    val dir = tmp("layout-lock")
    LayoutIngest.bootstrap(spark, dir, grid)
    (0 until 2).foreach { b =>
      LedgerLock.withLock(spark, dir) { // the stream's tail section
        assert(LayoutIngest.ingestBatch(
          rows(b * 10 until (b + 1) * 10).toDF("id", "x", "y"),
          b.toLong, dir, 1))
      }
    }
    def holding(lockDir: String)(check: => Unit): Unit = {
      val inside = new java.util.concurrent.CountDownLatch(1)
      val proceed = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => LedgerLock.withLock(spark, lockDir) {
        inside.countDown()
        assert(proceed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      })
      t.start()
      assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
      try check finally { proceed.countDown(); t.join(30000) }
    }
    // a long-running FOLD (maintenance lock held) excludes the other
    // rewriters — two manifests naming one source would double-publish
    holding(s"$dir/maint") {
      intercept[LedgerLock.ConcurrentWriterException] {
        LayoutIngest.compact(spark, dir)
      }
      intercept[LedgerLock.ConcurrentWriterException] {
        LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("x", 0L, 1L)))), 9L)
      }
      intercept[LedgerLock.ConcurrentWriterException] {
        LayoutIngest.mergeRows(spark, dir, "id",
          Seq((5L, 5L, 5L)).toDF("id", "x", "y"), batchId = 9L)
      }
      // ...but the TAIL keeps ingesting — the split's whole point
      LedgerLock.withLock(spark, dir) {
        assert(LayoutIngest.ingestBatch(
          rows(20 until 30).toDF("id", "x", "y"), 2L, dir, 1))
      }
      LayoutIngest.compactMarkers(spark, dir)
      assert(LayoutIngest.read(spark, dir).count() === 30L)
    }
    // and a busy TAIL (ingest mid-batch) no longer stalls the fold
    holding(dir) {
      LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30)
      val dataDirs = new java.io.File(s"$dir/data").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dataDirs.exists(_.startsWith("gen-")),
        s"the fold must land while the tail lock is held: $dataDirs")
      // mergeRows is the one cross-lock writer (its append IS an
      // ingest) — it must contend with the tail (tailWaitMs = 0 pins
      // the fail-fast floor of the bounded-wait contract)
      intercept[LedgerLock.ConcurrentWriterException] {
        LayoutIngest.mergeRows(spark, dir, "id",
          Seq((5L, 5L, 5L)).toDF("id", "x", "y"), batchId = 9L,
          tailWaitMs = 0L)
      }
    }
    // bounded wait: a merge racing a SHORT tail section (the live
    // stream's marker-metadata window) WAITS it out and succeeds
    // instead of failing the job — the mergeRows doc's concurrency
    // claim, now true by construction
    locally {
      val inside = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => LedgerLock.withLock(spark, dir) {
        inside.countDown()
        Thread.sleep(700)
      })
      t.start()
      assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // holder live right now; default tailWaitMs rides over it
      assert(LayoutIngest.mergeRows(spark, dir, "id",
        Seq((6L, 6L, 42L)).toDF("id", "x", "y"), batchId = 5L))
      t.join(30000)
    }
    // both released → a real merge proceeds end-to-end
    assert(LayoutIngest.mergeRows(spark, dir, "id",
      Seq((5L, 5L, 99L)).toDF("id", "x", "y"), batchId = 3L))
    assert(LayoutIngest.read(spark, dir).count() === 30L)
  }
}
