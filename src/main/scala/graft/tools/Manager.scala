package graft.tools

import graft.model.LoadConfig
import graft.operators.{GenicQcJob, VariantLoader}
import graft.sources.VariantStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/**
 * CLI driver — the engine's equivalent of the reference's entry point
 * (Manager.java:12-34: `--runLoad` → HrdpVariants, `--genicQc` → GenicQc),
 * with the Spring XML config (AppConfigure.xml) replaced by flags.
 *
 *   runMain graft.tools.Manager --runLoad  --vcf <path> --genes <parquet> \
 *     --store <dir> --mapKey 372 [--seed 0] [--skipLoaded]
 *   runMain graft.tools.Manager --genicQc --vcf <path> --genes <parquet> \
 *     --store <dir> --mapKey 372
 *
 * The gene table parquet needs columns
 * `(gene_rgd_id, chromosome, start_pos, stop_pos)` (GeneCache.java:27-32).
 */
object Manager {

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).filterNot(_.contains("="))
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-variant-manager")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NOTE the objectHashAggregate sort-based fallback threshold stays
      // at its default here (Verify/Bench raise it for the battery's
      // small-group typed aggregates): the load has no such aggregate.
      // Its detail dedup is a row_number window (VariantLoader
      // .sampleDetails) because a struct-min aggregate over MILLIONS of
      // near-unique keys measured 127 s of GC thrash against ~12 s
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val started = System.currentTimeMillis()
    try {
      if (flags.contains("--compact")) {
        // fold every store side back to one file per bucket (see
        // VariantStore.compact — same crash-safe swap as the updates)
        VariantStore.compact(spark, opts("store"))
        println(s"[graft] store ${opts("store")} compacted " +
          f"in ${(System.currentTimeMillis() - started) / 1000.0}%.1f s")
        return
      }
      if (flags.contains("--migrateStore")) {
        // one-time 8 -> 12 column detail-schema migration for stores
        // written before the full reference column set
        VariantStore.migrateDetails(spark, opts("store"))
        println(s"[graft] store ${opts("store")} migrated " +
          f"in ${(System.currentTimeMillis() - started) / 1000.0}%.1f s")
        return
      }
      val vcf = opts("vcf")
      val store = opts("store")
      val genes = spark.read.parquet(opts("genes"))
      val config = LoadConfig(
        mapKey = opts.getOrElse("mapKey", "372").toInt,
        rgdIdSeed = VariantStore.maxRgdId(spark, store,
          opts.getOrElse("seed", "0").toLong))

      if (flags.contains("--runLoad")) {
        // --skipLoaded: consult the load ledger by CONTENT hash and skip
        // the whole pipeline when this exact file was already ingested.
        // Opt-in: the default path re-runs the J4/J6 dedup joins, which
        // stay the correctness backstop (and the idempotency proof).
        // NOT concurrency-safe: the check and the later recordLoad are
        // separate writes with no store-level lock, so two concurrent
        // --skipLoaded submissions of the same file can both miss the
        // ledger and both run. That costs duplicate WORK only — the
        // J4/J6 joins still dedup rows — so the ledger stays advisory;
        // serialize submissions per store if the re-run cost matters.
        val hash =
          if (flags.contains("--skipLoaded")) {
            val h = VariantStore.fileHash(spark, vcf)
            if (VariantStore.isLoaded(spark, store, h)) {
              println(s"[graft] skip: $vcf already loaded " +
                s"(ledger hit ${h.take(12)}…) " +
                f"in ${(System.currentTimeMillis() - started) / 1000.0}%.1f s")
              return
            }
            h
          } else null
        // E1 (HrdpVariants.main, HrdpVariants.java:33-54)
        val result = VariantLoader.load(spark, vcf, genes,
          VariantStore.variants(spark, store),
          VariantStore.detailKeys(spark, store), config)
        println(f"[graft] plan+eager jobs ${(System.currentTimeMillis() - started) / 1000.0}%.1f s")
        // ledger records what THIS load contributed: store counts before
        // vs after the append (parquet counts are metadata-only — far
        // cheaper than re-running the detail melt to count the frames).
        // A reload of an already-ingested file records 0/0.
        def storeCount(side: String): Long =
          try spark.read.parquet(s"$store/$side").count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L }
        val (v0, d0) = (storeCount("variants"), storeCount("details"))
        VariantStore.append(result, store)
        result.unpersist()
        val (nNew, nDetails) = (storeCount("variants"), storeCount("details"))
        VariantStore.recordLoad(spark, store,
          if (hash != null) hash else VariantStore.fileHash(spark, vcf),
          vcf, nNew - v0, nDetails - d0)
        println(s"[graft] load added ${nNew - v0} variants, " +
          s"${nDetails - d0} details; " +
          s"store now has $nNew variants, $nDetails sample details")
      } else if (flags.contains("--genicQc")) {
        // E2 (GenicQc.run, GenicQc.java:27-43)
        val changes = GenicQcJob.run(spark, vcf, genes,
          VariantStore.variants(spark, store), config)
          .persist() // consumed twice: the count and the update merge
        val n = changes.count()
        VariantStore.applyGenicUpdates(spark, store,
          changes.select(col("rgd_id"), col("genic_status")))
        changes.unpersist()
        println(s"[graft] genic QC updated $n rows")
      } else {
        System.err.println(
          "usage: Manager (--runLoad|--genicQc) --vcf <p> --genes <p> " +
            "--store <dir> [--mapKey N] [--seed N] [--skipLoaded] | " +
            "Manager (--migrateStore|--compact) --store <dir>")
        sys.exit(2)
      }
      // elapsed logging, as the reference does (HrdpVariants.java:52-53)
      println(f"[graft] elapsed ${(System.currentTimeMillis() - started) / 1000.0}%.1f s")
    } finally spark.stop()
  }
}
