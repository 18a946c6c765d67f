package graft

import java.nio.file.Files

import graft.model.LoadConfig
import graft.operators.{GenicQcJob, VariantLoader}
import graft.sources.VariantStore
import org.apache.spark.sql.functions._

/** Store round trip: append → reload → incremental load is a no-op;
  * genic/end-pos updates rewrite in place. Uses the VariantLoaderSpec
  * fixture VCF via a fresh temp store. */
class VariantStoreSpec extends SparkSpec {
  import spark.implicits._

  private val vcf = {
    val f = java.io.File.createTempFile("graft-store", ".vcf")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f)
    w.println("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
    w.println("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41")
    w.println("chr2\t200\t.\tC\tG\t50\tPASS\t.\tGT:AD:DP\t1/1:0,30:30")
    w.close()
    f.getAbsolutePath
  }

  private def genes =
    Seq((1, "1", 90L, 110L)).toDF("gene_rgd_id", "chromosome", "start_pos",
      "stop_pos")

  private val config = LoadConfig(mapKey = 372, rgdIdSeed = 100L)

  test("append, reload, incremental no-op, updates") {
    val dir = Files.createTempDirectory("graft-store").toString

    // fresh store is empty
    assert(VariantStore.variants(spark, dir).isEmpty)
    assert(VariantStore.maxRgdId(spark, dir, 7L) == 7L)

    // load + append
    val r1 = VariantLoader.load(spark, vcf, genes,
      VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r1, dir)
    val stored = VariantStore.variants(spark, dir)
    assert(stored.count() == 2)
    assert(stored.select("chromosome").distinct().count() == 2)
    assert(VariantStore.maxRgdId(spark, dir, 0L) > 100L)

    // incremental reload: nothing new, details deduped via J6
    val r2 = VariantLoader.load(spark, vcf, genes,
      VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir),
      config.copy(rgdIdSeed = VariantStore.maxRgdId(spark, dir, 0L)))
    assert(r2.newVariants.count() == 0)
    assert(r2.sampleDetails.count() == 0)

    // K6 genic update path: flip chr2's status and verify the rewrite
    val change = stored.filter($"chromosome" === "2")
      .select($"rgd_id", lit("GENIC").as("genic_status"))
    VariantStore.applyGenicUpdates(spark, dir, change)
    val after = VariantStore.variants(spark, dir)
    assert(after.filter($"chromosome" === "2").select("genic_status")
      .as[String].head() == "GENIC")
    assert(after.count() == 2)

    // QC over the updated store flips it back (gene list says INTERGENIC)
    val qc = GenicQcJob.run(spark, vcf, genes, after, config)
    assert(qc.count() == 1)
    VariantStore.applyGenicUpdates(spark, dir,
      qc.select($"rgd_id", $"genic_status"))
    assert(VariantStore.variants(spark, dir)
      .filter($"chromosome" === "2").select("genic_status")
      .as[String].head() == "INTERGENIC")

    // K5 end-pos update path
    val drift = VariantStore.variants(spark, dir)
      .filter($"chromosome" === "1")
      .select($"rgd_id", lit(999L).as("end_pos"))
    VariantStore.applyEndPosUpdates(spark, dir, drift)
    assert(VariantStore.variants(spark, dir)
      .filter($"chromosome" === "1").select("end_pos")
      .as[Long].head() == 999L)
  }

  test("load ledger: content-hash record + skip round trip") {
    val dir = Files.createTempDirectory("graft-store-ledger").toString
    val h = VariantStore.fileHash(spark, vcf)
    // same content, different path → same hash (the ledger keys on
    // CONTENT, so a renamed/copied file is still recognized)
    val copy = java.io.File.createTempFile("graft-ledger-copy", ".vcf")
    copy.deleteOnExit()
    java.nio.file.Files.copy(java.nio.file.Paths.get(vcf), copy.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(VariantStore.fileHash(spark, copy.getAbsolutePath) == h)

    assert(!VariantStore.isLoaded(spark, dir, h)) // no ledger yet
    VariantStore.recordLoad(spark, dir, h, vcf, 2L, 2L)
    assert(VariantStore.isLoaded(spark, dir, h))
    assert(!VariantStore.isLoaded(spark, dir, "f" * 64))
    // ledger accumulates (append, not overwrite)
    VariantStore.recordLoad(spark, dir, "f" * 64, "other.vcf", 1L, 1L)
    assert(VariantStore.isLoaded(spark, dir, h))
    assert(VariantStore.isLoaded(spark, dir, "f" * 64))
  }

  test("compact folds appended files to one per bucket, content unchanged") {
    val dir = Files.createTempDirectory("graft-store-compact").toString
    // seed the primary sides, then accumulate files on the ext side
    // (appendExt has no dedup, so every append lands new bucket files —
    // the streaming-micro-batch accumulation pattern)
    val r = VariantLoader.load(spark, vcf, genes,
      VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r, dir)
    r.unpersist()
    val extRows = VariantStore.variants(spark, dir)
    (1 to 3).foreach(_ => VariantStore.appendExt(extRows, dir))

    def dataFiles(side: String): Int =
      new java.io.File(s"$dir/$side").listFiles()
        .count(f => f.getName.startsWith("part-"))
    val filesBefore = dataFiles("variants_ext")
    val before = VariantStore.variantsExt(spark, dir)
      .orderBy("rgd_id", "chromosome").collect().toSeq
    assert(before.length == 6) // 2 rows × 3 undeduped appends

    VariantStore.compact(spark, dir)

    assert(dataFiles("variants_ext") < filesBefore)
    assert(dataFiles("variants_ext") <=
      VariantStore.recordedBuckets(spark, dir, "variants_ext"))
    val after = VariantStore.variantsExt(spark, dir)
      .orderBy("rgd_id", "chromosome").collect().toSeq
    assert(after == before)
    // bucketing preserved: the dedup-shaped join still has one exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Seq(("1", 100L)).toDF("chromosome", "start_pos")
      val plan = probe.join(VariantStore.variantsExt(spark, dir),
        Seq("chromosome", "start_pos")).queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  /** Problems of a store side against its recorded bucket count: a
    * bucket id beyond the count, a bucket in two files, a row in the
    * wrong bucket's file. */
  private def bucketProblems(dir: String, side: String): Seq[String] =
    StoreInvariance.bucketProblems(spark, new java.io.File(s"$dir/$side"), Set.empty,
      StoreInvariance.sides.toMap.apply(side))

  // a table of crash states: rewrites at each step, and first-ever appends
  test("half-finished swap recovers on next session touch") {
    val dir = Files.createTempDirectory("graft-store-crash").toString
    def loadInto(d: String): Unit = {
      val r = VariantLoader.load(spark, vcf, genes,
        VariantStore.variants(spark, d), VariantStore.detailKeys(spark, d), config)
      VariantStore.append(r, d)
      r.unpersist()
    }
    loadInto(dir)
    val want = VariantStore.variants(spark, dir)
      .orderBy("rgd_id").collect().toSeq
    assert(want.nonEmpty)

    // simulate "new JVM": the session-scoped catalog forgets this store
    // (recovery only runs on the re-register path, like a restart would)
    def forgetCatalog(): Unit = {
      // the store names its catalog entries after its qualified path
      val path = new org.apache.hadoop.fs.Path(dir)
      val qualified = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(path).toString
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(qualified.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      spark.sql(s"DROP TABLE IF EXISTS graft_store_variants_$digest")
    }
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    def drop(d: java.io.File, marks: String*): Unit =
      marks.flatMap(m => Seq(m, s".$m.crc"))
        .foreach(n => new java.io.File(d, n).delete())
    def dropRecord(d: java.io.File): Unit = drop(d, "_graft_buckets")
    val fin = new java.io.File(s"$dir/variants")
    val tmp = new java.io.File(s"$dir/variants_tmp")
    val old = new java.io.File(s"$dir/variants_old")

    // (case, the crash's leftovers): recovery keeps or restores the live
    // data, or promotes a complete `_tmp` (one holding its count record)
    val crashes: Seq[(String, () => Unit)] = Seq(
      "rewrite crashed writing _tmp, before its record" -> { () =>
        copyDir(fin, tmp); dropRecord(tmp) },
      "rewrite crashed between the renames, _tmp without its record or " +
          "_SUCCESS" -> { () =>
        copyDir(fin, tmp); drop(tmp, "_graft_buckets", "_SUCCESS")
        assert(fin.renameTo(old)) },
      "rewrite crashed between the renames, _tmp with its record" -> { () =>
        copyDir(fin, tmp); assert(fin.renameTo(old)) },
      "rewrite crashed after the promote: stale _tmp and _old" -> { () =>
        copyDir(fin, tmp); copyDir(fin, old) })
    crashes.foreach { case (label, crash) =>
      crash()
      forgetCatalog()
      val recovered = VariantStore.variants(spark, dir)
        .orderBy("rgd_id").collect().toSeq
      assert(recovered == want, label)
      assert(fin.exists && !tmp.exists && !old.exists, label)
      assert(bucketProblems(dir, "variants").isEmpty, label)
    }

    // a first-ever append that crashed before its promote leaves a lone
    // _tmp, with or without its record: the side reads as absent, and the
    // next load creates it from scratch
    Seq(true, false).foreach { withRecord =>
      val label = s"first append crashed before the promote, record $withRecord"
      val first = Files.createTempDirectory("graft-store-first").toString
      val lone = new java.io.File(s"$first/variants_tmp")
      copyDir(fin, lone)
      if (!withRecord) dropRecord(lone)
      assert(VariantStore.variants(spark, first).isEmpty, label)
      loadInto(first)
      assert(!lone.exists, label)
      assert(VariantStore.variants(spark, first).orderBy("rgd_id").collect().toSeq
        == want, label)
      Seq("variants", "details").foreach { side =>
        assert(VariantStore.recordedBuckets(spark, first, side) ==
          spark.sparkContext.defaultParallelism, s"$label $side")
        assert(bucketProblems(first, side).isEmpty, s"$label $side")
      }
    }

    // a swap begun by code that predates the record, crashed between the
    // renames: `_old` plus a complete 32-bucket `_tmp` (`_SUCCESS`, no
    // record). The update had finished, so the `_tmp` is promoted and
    // reads as a legacy side.
    val label = "pre-record rewrite crashed between the renames"
    val updated = VariantStore.variants(spark, dir)
      .withColumn("end_pos", col("end_pos") + 1)
    val wantUpdated = updated.orderBy("rgd_id").collect().toSeq
    StoreInvariance.writeLegacySide(spark, updated, tmp.getPath,
      StoreInvariance.sides.toMap.apply("variants"))
    assert(new java.io.File(tmp, "_SUCCESS").exists, label)
    assert(fin.renameTo(old), label)
    forgetCatalog()
    assert(VariantStore.variants(spark, dir).orderBy("rgd_id").collect().toSeq
      == wantUpdated, label)
    assert(fin.exists && !tmp.exists && !old.exists, label)
    assert(VariantStore.recordedBuckets(spark, dir, "variants") ==
      VariantStore.LegacyBuckets, label)
    assert(bucketProblems(dir, "variants").isEmpty, label)
  }

  test("compact under local[2] re-buckets a legacy 32-bucket store to 2 " +
      "buckets, content unchanged") {
    val fixture = Files.createTempDirectory("graft-store-legacy-fx").toFile
    StoreInvariance.writeFixture(fixture)
    val fresh = Files.createTempDirectory("graft-store-legacy-src").toFile
    assert(StoreInvariance.load(spark, s"$fixture/cohort.vcf", fresh).isEmpty)
    val dir = Files.createTempDirectory("graft-store-legacy").toString
    StoreInvariance.sides.foreach { case (side, keys) =>
      StoreInvariance.writeLegacySide(spark, spark.read.parquet(s"$fresh/$side"),
        s"$dir/$side", keys)
    }
    def content(side: String): String =
      StoreInvariance.digest(spark.read.parquet(s"$dir/$side"))
    val before = StoreInvariance.sides.map(s => content(s._1))
    def dataFiles(side: String): Int =
      new java.io.File(s"$dir/$side").listFiles().count(_.getName.startsWith("part-"))
    assert(StoreInvariance.sides.forall(s => dataFiles(s._1) > 2))

    SparkSpec.runInChildJvm("graft.CompactStore", "local[2]", dir)

    assert(StoreInvariance.sides.map(s => content(s._1)) == before)
    StoreInvariance.sides.foreach { case (side, _) =>
      assert(VariantStore.recordedBuckets(spark, dir, side) == 2, side)
      assert(dataFiles(side) == 2, side)
      assert(bucketProblems(dir, side).isEmpty, side)
    }
  }

  test("migrateDetails rewrites a pre-12-column store once, then no-ops") {
    val dir = Files.createTempDirectory("graft-store-migrate").toString
    // fabricate an old 8-column details side (what round-2 stores held)
    val old8 = Seq(
      (1000L, 11, 41, 9, "heterozygous", 21, "N", "N"),
      (1001L, 11, 30, 30, "homozygous", 100, "N", "N"))
      .toDF("rgd_id", "sample_id", "total_depth", "var_freq",
        "zygosity_status", "zygosity_percent_read", "zygosity_poss_error",
        "zygosity_in_pseudo")
    old8.write.parquet(s"$dir/details")

    VariantStore.migrateDetails(spark, dir)
    val migrated = spark.read.parquet(s"$dir/details")
    assert(migrated.columns.toSeq == Seq("rgd_id", "source", "sample_id",
      "total_depth", "var_freq", "zygosity_status", "zygosity_percent_read",
      "zygosity_poss_error", "zygosity_ref_allele", "zygosity_num_allele",
      "zygosity_in_pseudo", "quality_score"))
    assert(migrated.count() == 2)
    assert(migrated.filter(col("source").isNull
      && col("zygosity_num_allele") === 0).count() == 2)
    // old content preserved
    assert(migrated.filter(col("rgd_id") === 1000L)
      .select("var_freq").as[Int].head() == 9)
    // idempotent: second call is a no-op (schema already current)
    VariantStore.migrateDetails(spark, dir)
    assert(spark.read.parquet(s"$dir/details").count() == 2)
    // and the migrated side accepts key reads through the store API
    assert(VariantStore.detailKeys(spark, dir).count() == 2)
  }

  test("store side arrives pre-bucketed: one exchange in the dedup join") {
    val dir = Files.createTempDirectory("graft-store-bucket").toString
    val r = VariantLoader.load(spark, vcf, genes,
      VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r, dir)
    r.unpersist()

    // force a shuffle join so the exchange count is observable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val store = VariantStore.variants(spark, dir)
      val probe = Seq(("1", 100L, "x"), ("2", 200L, "y"), ("3", 1L, "z"))
        .toDF("chromosome", "start_pos", "payload")
      val joined = probe.join(store, Seq("chromosome", "start_pos"))
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // bucketed store side pre-partitioned -> only the probe shuffles
      assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
      assert(joined.count() == 2)

      // same for the detail side on (rgd_id, sample_id)
      val det = VariantStore.detailKeys(spark, dir)
      val dprobe = det.limit(1).collect().headOption
        .map(x => Seq((x.getLong(0), x.getInt(1))))
        .getOrElse(Seq((1L, 1)))
        .toDF("rgd_id", "sample_id")
      val djoined = dprobe.join(det, Seq("rgd_id", "sample_id"))
      val dplan = djoined.queryExecution.executedPlan.toString
      val dexchanges = "Exchange hashpartitioning".r.findAllIn(dplan).length
      assert(dexchanges == 1, s"expected 1 exchange, plan:\n$dplan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("a relative store directory: appends, updates and counts all name " +
      "the working-directory copy, none the warehouse") {
    val rel = s"target/graft-store-rel-${java.util.UUID.randomUUID()}"
    val abs = new java.io.File(rel).getAbsoluteFile
    try {
      def loadInto(): Unit = {
        val r = VariantLoader.load(spark, vcf, genes,
          VariantStore.variants(spark, rel), VariantStore.detailKeys(spark, rel),
          config.copy(rgdIdSeed = VariantStore.maxRgdId(spark, rel, 100L)))
        VariantStore.append(r, rel)
        r.unpersist()
      }
      loadInto()
      // the counts `Manager --runLoad` takes: plain reads of the relative path
      assert(spark.read.parquet(s"$rel/variants").count() == 2)
      val details = spark.read.parquet(s"$rel/details").count()
      assert(details > 0)
      assert(VariantStore.variants(spark, rel).count() == 2)
      assert(VariantStore.detailKeys(spark, rel).count() == details)
      Seq("variants", "details").foreach { side =>
        assert(new java.io.File(abs, s"$side/_graft_buckets").isFile, side)
        assert(VariantStore.recordedBuckets(spark, rel, side) ==
          spark.sparkContext.defaultParallelism, side)
        assert(bucketProblems(abs.getPath, side).isEmpty, side)
      }
      // a reload adds nothing; a K6 swap rewrites the same directory
      loadInto()
      assert(spark.read.parquet(s"$rel/variants").count() == 2)
      VariantStore.applyGenicUpdates(spark, rel, VariantStore.variants(spark, rel)
        .select($"rgd_id", lit("GENIC").as("genic_status")))
      assert(spark.read.parquet(s"$rel/variants").select("genic_status")
        .as[String].collect().toSeq == Seq("GENIC", "GENIC"))
      assert(VariantStore.variants(spark, abs.getPath).count() == 2)
      val warehouse = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), rel)
      assert(!warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(warehouse), s"rows written under $warehouse")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(abs)
  }

  test("a refused promote rename fails the rewrite, and the next read " +
      "recovers the side whole") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.refusing.impl", classOf[RefusingFs].getName)
    val dir = "refusing:" + Files.createTempDirectory("graft-store-refuse")
    val r = VariantLoader.load(spark, vcf, genes, VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r, dir)
    r.unpersist()
    def rows(): Set[(Long, String)] = VariantStore.variants(spark, dir)
      .select("rgd_id", "genic_status").as[(Long, String)].collect().toSet
    val before = rows()
    val updated = before.map { case (id, _) => (id, "GENIC") }
    assert(before.size == 2 && before != updated)
    val change = VariantStore.variants(spark, dir)
      .select($"rgd_id", lit("GENIC").as("genic_status"))
    val promote = (src: String, dst: String) =>
      src == "variants_tmp" && dst == "variants"
    RefusingFs.refuse = promote
    try {
      val e = intercept[IllegalStateException] {
        VariantStore.applyGenicUpdates(spark, dir, change)
      }
      assert(e.getMessage.contains("overwriteSide: rename"), e.getMessage)
      // the recovery's own promote is checked too: refused, it throws
      // and deletes nothing
      val e2 = intercept[IllegalStateException](rows())
      assert(e2.getMessage.contains("recoverSwap: rename"), e2.getMessage)
    } finally RefusingFs.refuse = (_, _) => false
    val recovered = rows()
    assert(recovered == before || recovered == updated, recovered)
  }

  test("K5/K6 swaps hold the single-writer lock: a concurrent second " +
      "updater fails fast naming the holder; crash recovery unchanged") {
    import graft.streaming.LedgerLock
    val dir = Files.createTempDirectory("graft-store-lock").toString
    val r1 = VariantLoader.load(spark, vcf, genes,
      VariantStore.variants(spark, dir),
      VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r1, dir)
    val before = VariantStore.variants(spark, dir)
      .select("rgd_id", "genic_status").as[(Long, String)].collect().toSet
    val change = VariantStore.variants(spark, dir)
      .select($"rgd_id", lit("GENIC").as("genic_status"))

    // writer 1 holds the store's ledger lock (an in-flight update);
    // both K5 and K6 from writer 2 must fail fast, state untouched
    val inside = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    val t1 = new Thread(() => LedgerLock.withLock(spark, dir) {
      inside.countDown()
      assert(proceed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    })
    t1.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val e = intercept[LedgerLock.ConcurrentWriterException] {
      VariantStore.applyGenicUpdates(spark, dir, change)
    }
    assert(e.getMessage.contains("locked by writer"))
    intercept[LedgerLock.ConcurrentWriterException] {
      VariantStore.applyEndPosUpdates(spark, dir,
        change.select($"rgd_id", lit(1L).as("end_pos")))
    }
    assert(VariantStore.variants(spark, dir)
      .select("rgd_id", "genic_status").as[(Long, String)]
      .collect().toSet === before, "locked-out updates must not land")
    proceed.countDown()
    t1.join(30000)
    assert(!t1.isAlive)

    // a writer that DIED holding the lock (foreign host — not provably
    // dead, no auto-retire): blocks until the operator breaks it, then
    // the update replays cleanly — the crash story is lock-unchanged
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/markers/lock"),
      "4242@elsewhere:feed0000".getBytes("UTF-8"))
    val e2 = intercept[LedgerLock.ConcurrentWriterException] {
      VariantStore.applyGenicUpdates(spark, dir, change)
    }
    assert(e2.getMessage.contains("4242@elsewhere:feed0000"))
    LedgerLock.break(spark, dir)
    VariantStore.applyGenicUpdates(spark, dir, change)
    assert(VariantStore.variants(spark, dir).select("genic_status")
      .as[String].collect().forall(_ == "GENIC"))
  }
}

/** The local filesystem under the `refusing:` scheme: a rename whose
  * (source, destination) names [[RefusingFs.refuse]] matches returns
  * false, the way Hadoop filesystems report most rename failures. */
class RefusingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "refusing"
  override def getUri: java.net.URI = java.net.URI.create("refusing:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !RefusingFs.refuse(src.getName, dst.getName) && super.rename(src, dst)
}

object RefusingFs {
  @volatile var refuse: (String, String) => Boolean = (_, _) => false
}

/** `CompactStore <master> <store dir>`: [[VariantStore.compact]] in a
  * session on `master`. */
object CompactStore {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session(args(0))
    try VariantStore.compact(spark, args(1)) finally spark.stop()
  }
}
