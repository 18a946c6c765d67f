package graft

import java.nio.file.{Files, Paths}

import graft.model.LoadConfig
import graft.sources.VariantStore
import graft.streaming.StreamingVcfLoad
import org.apache.spark.sql.functions._

/** Streaming ingestion: files appearing in a watched dir flow through the
  * full load; re-delivered content dedups (idempotent). */
class StreamingVcfLoadSpec extends SparkSpec {
  import spark.implicits._

  private def writeVcf(dir: String, name: String, rows: Seq[String],
      samples: Seq[String] = Seq("S1")): Unit = {
    val body =
      (("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: samples)
        .mkString("\t") +: rows).mkString("", "\n", "\n")
    Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))
  }

  private val genes1 = Seq((1, "1", 90L, 110L))
    .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")

  /** Streams `watch` into a fresh store and returns its detail sample ids. */
  private def streamedSampleIds(watch: String, dict: Map[String, Int]): Seq[Int] = {
    val store = Files.createTempDirectory("graft-stream-dict").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-dict").toString
    StreamingVcfLoad.start(spark, watch, genes1, store,
      LoadConfig(mapKey = 372, sampleDict = dict, rgdIdSeed = 100L), ckpt,
      availableNow = true).awaitTermination()
    VariantStore.detailKeys(spark, store).select("sample_id").as[Int]
      .collect().toSeq.sorted
  }

  test("micro-batches resolve the sample dictionary from their #CHROM line") {
    val watch = Files.createTempDirectory("graft-watch-dict").toString
    writeVcf(watch, "a.vcf", Seq(
      "chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41\t0/1:3,4:7",
      "chr2\t200\t.\tC\tG\t50\tPASS\t.\tGT:AD:DP\t0/0:30,0:30\t1/1:0,30:30"),
      samples = Seq("S1", "S2"))
    // no dictionary: the header column index is the sample id
    assert(streamedSampleIds(watch, Map.empty) == Seq(0, 1, 1))
    // only the columns the dictionary names
    assert(streamedSampleIds(watch, Map("S2" -> 22, "OTHER" -> 5)) == Seq(22, 22))
    // a dictionary that names no header column yields no details
    assert(streamedSampleIds(watch, Map("OTHER" -> 99)).isEmpty)
  }

  test("a micro-batch whose files disagree on the header is refused") {
    val watch = Files.createTempDirectory("graft-watch-hdr").toString
    val row = Seq("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41")
    writeVcf(watch, "a.vcf", row, samples = Seq("S1"))
    writeVcf(watch, "b.vcf", row, samples = Seq("S2"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      streamedSampleIds(watch, Map("S1" -> 1, "S2" -> 2)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage)
      .contains("disagree on the #CHROM header")), e)
  }

  test("micro-batches load incrementally with cross-file dedup") {
    val watch = Files.createTempDirectory("graft-watch").toString
    val store = Files.createTempDirectory("graft-stream-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val genes = Seq((1, "1", 90L, 110L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val config = LoadConfig(mapKey = 372, rgdIdSeed = 100L)

    // batch 1: two variants
    writeVcf(watch, "a.vcf", Seq(
      "chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41",
      "chr2\t200\t.\tC\tG\t50\tPASS\t.\tGT:AD:DP\t1/1:0,30:30"))
    val q1 = StreamingVcfLoad.start(spark, watch, genes, store, config, ckpt,
      availableNow = true)
    q1.awaitTermination()
    assert(VariantStore.variants(spark, store).count() == 2)

    // batch 2: one repeat of chr1:100 (dedup) + one new variant
    writeVcf(watch, "b.vcf", Seq(
      "chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:30,8:38",
      "chr3\t300\t.\tG\tA\t50\tPASS\t.\tGT:AD:DP\t0/1:5,7:12"))
    val q2 = StreamingVcfLoad.start(spark, watch, genes, store, config, ckpt,
      availableNow = true)
    q2.awaitTermination()

    val vs = VariantStore.variants(spark, store)
    assert(vs.count() == 3) // chr1:100 deduped, chr3:300 appended
    val ids = vs.select("rgd_id").as[Long].collect()
    assert(ids.distinct.length == 3)
    // the genic join ran in both batches
    assert(vs.filter($"chromosome" === "1").select("genic_status")
      .as[String].head() == "GENIC")
    assert(vs.filter($"chromosome" === "3").select("genic_status")
      .as[String].head() == "INTERGENIC")
  }

  test("compactEvery folds small files on cadence without changing rows") {
    val watch = Files.createTempDirectory("graft-watch2").toString
    val genes = Seq((1, "1", 90L, 110L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val config = LoadConfig(mapKey = 372, rgdIdSeed = 100L)
    // 4 files x 24 variants over 32 buckets: most buckets receive rows
    // in more than one micro-batch (pigeonhole), so the append-per-batch
    // control accumulates multiple files per bucket while compaction
    // folds each occupied bucket back to one
    (1 to 4).foreach { i =>
      writeVcf(watch, s"f$i.vcf", (for (c <- 1 to 3; j <- 1 to 8) yield
        s"chr$c\t${10000 * i + 10 * j + c}\t.\tA\tT\t50\tPASS\t.\t" +
          "GT:AD:DP\t0/1:32,9:41"))
    }
    def ingest(compact: Option[Int]): (Set[(String, Long)], Int) = {
      val store = Files.createTempDirectory("graft-stream-store2").toString
      val ckpt = Files.createTempDirectory("graft-ckpt2").toString
      val q = StreamingVcfLoad.start(spark, watch, genes, store, config,
        ckpt, availableNow = true, maxFilesPerTrigger = Some(1),
        compactEvery = compact)
      q.awaitTermination()
      val rows = VariantStore.variants(spark, store)
        .select("chromosome", "start_pos").as[(String, Long)]
        .collect().toSet
      val nFiles = new java.io.File(s"$store/variants")
        .listFiles().count(_.getName.endsWith(".parquet"))
      (rows, nFiles)
    }
    val (controlRows, controlFiles) = ingest(None)
    val (compactedRows, compactedFiles) = ingest(Some(2))
    assert(compactedRows == controlRows && controlRows.size == 96)
    // cadence fired after batches 2 and 4; batch 4 was last, so the
    // final layout is fully folded: strictly fewer files than the
    // append-per-batch control
    assert(compactedFiles < controlFiles,
      s"compacted=$compactedFiles control=$controlFiles")
  }
}
