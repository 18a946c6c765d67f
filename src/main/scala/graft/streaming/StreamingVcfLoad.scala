package graft.streaming

import graft.model.LoadConfig
import graft.operators.VariantLoader
import graft.sources.{VariantStore, VcfSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming VCF ingestion: watch a directory for (gzipped) VCF files and
 * run each micro-batch through the full E1 load against the current
 * store — dedup, id minting, and detail anti-joins included, so
 * re-delivered files are idempotent.
 *
 * Shape: file-source line stream → foreachBatch(batch load + store
 * append). foreachBatch, not a plain sink: the load is a multi-join
 * batch plan against the store snapshot, which streaming DataFrames
 * can't express inline — exactly what foreachBatch exists for. Each
 * batch reads the store snapshot fresh, so sequential micro-batches
 * observe each other's appends; exactly-once comes from the checkpoint
 * (file source tracks consumed files) + idempotent dedup.
 */
object StreamingVcfLoad {

  /**
   * @param watchDir   directory to watch for *.vcf / *.vcf.gz files
   * @param genes      gene dimension (J1)
   * @param storeDir   variant store root (created on first batch)
   * @param checkpoint streaming checkpoint dir
   * @param availableNow process what's there, then stop (testing); false
   *                   = run continuously
   * @param maxFilesPerTrigger cap files per micro-batch (honored by
   *                   AvailableNow too) — 1 gives strictly incremental
   *                   per-file batches, each observing the prior ones'
   *                   appends
   * @param compactEvery fold each store side back to one file per bucket
   *                   after every N micro-batches. Every append lands up to
   *                   one new file per bucket of the side's recorded count,
   *                   so a long-running ingest accumulates small files and
   *                   per-batch listing/scan overhead grows; periodic
   *                   compaction caps it at N batches' worth, and re-buckets
   *                   each side at the stream session's count. Runs inside foreachBatch — the
   *                   stream pauses for the rewrite (a full store
   *                   rewrite, so amortize with N >> 1); the swap is the
   *                   crash-safe rename [[VariantStore.compact]] uses.
   *                   Batch ids persist in the checkpoint, so the cadence
   *                   survives restarts.
   */
  def start(spark: SparkSession, watchDir: String, genes: DataFrame,
      storeDir: String, config: LoadConfig, checkpoint: String,
      availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    require(compactEvery.forall(_ > 0), "compactEvery must be positive")
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val lines = reader.text(watchDir)
    val writer = lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sampleIds = VariantLoader.sampleIds(config.sampleDict, batchSamples(batch))
        val result = VariantLoader.loadFromAlleles(
          spark,
          VariantLoader.normalizedAllelesFromRecords(
            spark, VcfSource.recordsFromLines(batch), config),
          genes,
          VariantStore.variants(spark, storeDir),
          VariantStore.detailKeys(spark, storeDir),
          config.copy(rgdIdSeed =
            VariantStore.maxRgdId(spark, storeDir, config.rgdIdSeed)),
          sampleIds)
        VariantStore.append(result, storeDir)
        result.unpersist()
        compactEvery.foreach { n =>
          if ((batchId + 1) % n == 0) VariantStore.compact(spark, storeDir)
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Sample names of a micro-batch's `#CHROM` line. Sample ids resolve per
    * header column, so a batch whose files disagree on the header is
    * refused; a batch without one has no sample columns to name. */
  private def batchSamples(batch: DataFrame): Seq[String] = {
    val headers = batch.filter(col("value").startsWith("#CHROM")).distinct()
      .collect().map(_.getString(0))
    require(headers.length <= 1,
      "micro-batch files disagree on the #CHROM header: " + headers.mkString(" | "))
    headers.headOption.toSeq.flatMap(VcfSource.sampleNames)
  }
}
