package perfbench

import java.io.File

import graft.model.LoadConfig
import graft.operators.{GenicAnnotator, GenicQcJob, VariantLoader}
import graft.sources.{VariantStore, VcfSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/**
 * `cohort_etl`: the paper's two batch jobs as three calls in order —
 * `load` of the cohort into an empty store, `reload` of the delta file
 * against it, and `qc` with the revised gene table — each run the way the
 * project's `--runLoad` / `--genicQc` entry point runs it.
 */
final class Etl(args: Args) extends Workload {
  private val cfg = args.workload("cohort")
  private val rates = {
    val r = cfg.get("rates")
    def d(k: String) = r.get(k).asDouble
    CohortRates(d("multi_allelic"), d("star_allele"), d("multi_ref"),
      d("insertion"), d("deletion"), d("mnv"), d("delins"), d("chrM"),
      d("scaffold_contig"), d("first_sample_dp0"), d("in_file_duplicate"),
      d("hom_ref"), d("no_call"), d("dp_dot"), d("allele_depth_zero"))
  }
  private var main: CohortFiles = _
  private var mini: CohortFiles = _

  // set-up and timed cohorts share one sample dictionary, so the set-up
  // compiles the plans the timed calls run
  private def gen(dir: String, seed: Long, records: Int): CohortFiles =
    Cohort.generate(Dirs.fresh(dir), seed, records,
      cfg.get("chunks").asInt, cfg.get("samples").asInt,
      Math.floorMod(args.seed, cfg.get("samples").asLong).toInt,
      cfg.get("delta_novel_fraction").asDouble,
      cfg.get("delta_redelivered_fraction").asDouble, rates)

  def prepare(): Unit = {
    main = gen(s"${args.work}/cohort-main", args.seed, cfg.get("records").asInt)
    mini = gen(s"${args.work}/cohort-setup", args.seed + 1,
      cfg.get("setup_records").asInt)
  }

  private val geneSchema = StructType(Seq(
    StructField("gene_rgd_id", IntegerType), StructField("chromosome", StringType),
    StructField("start_pos", LongType), StructField("stop_pos", LongType)))

  private def genes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(geneSchema).option("sep", "\t").csv(path)

  private def config(spark: SparkSession, c: CohortFiles, store: String) =
    LoadConfig(mapKey = 372, sampleDict = c.sampleDict,
      rgdIdSeed = VariantStore.maxRgdId(spark, store, 0L))

  private def storeCount(spark: SparkSession, store: String, side: String): Long =
    if (new File(s"$store/$side").exists) spark.read.parquet(s"$store/$side").count()
    else 0L

  /** Content hash of every chunk of an input, combined in name order. */
  private def inputHash(spark: SparkSession, path: String): String = {
    val f = new File(path)
    val files = if (f.isDirectory) f.listFiles().filter(_.isFile).sortBy(_.getName).toSeq
      else Seq(f)
    files.map(x => VariantStore.fileHash(spark, x.getPath)).mkString(":")
  }

  /** `--runLoad`: load, append, and record the input in the ledger.
    * Returns (variants added, details added). */
  private def load(spark: SparkSession, c: CohortFiles, input: String,
      store: String, tracer: Tracer = new Tracer(false),
      onResult: VariantLoader.LoadResult => Unit = _ => ()): (Long, Long) = {
    val (existing, keys, conf) = tracer.span("sources.store_snapshot") {
      (VariantStore.variants(spark, store), VariantStore.detailKeys(spark, store),
        config(spark, c, store))
    }
    val result = VariantLoader.load(spark, input, genes(spark, s"${c.dir}/genes.tsv"),
      existing, keys, conf)
    onResult(result)
    val (v0, d0) = (storeCount(spark, store, "variants"), storeCount(spark, store, "details"))
    tracer.span("sources.store_append")(VariantStore.append(result, store))
    result.unpersist()
    val (v1, d1) = (storeCount(spark, store, "variants"), storeCount(spark, store, "details"))
    val hash = tracer.span("sources.file_hash")(inputHash(spark, input))
    VariantStore.recordLoad(spark, store, hash, input, v1 - v0, d1 - d0)
    (v1 - v0, d1 - d0)
  }

  /** `--genicQc` with the revised genes. Returns the number of flips. */
  private def qc(spark: SparkSession, c: CohortFiles, store: String,
      tracer: Tracer = new Tracer(false)): Long = {
    val existing = tracer.span("sources.store_snapshot")(VariantStore.variants(spark, store))
    val changes = GenicQcJob.run(spark, c.cohortDir,
      genes(spark, s"${c.dir}/genes_revised.tsv"), existing,
      config(spark, c, store)).persist()
    val n = changes.count()
    tracer.span("sources.store_rewrite") {
      VariantStore.applyGenicUpdates(spark, store,
        changes.select(col("rgd_id"), col("genic_status")))
    }
    changes.unpersist()
    n
  }

  private def genic(spark: SparkSession, store: String): Long =
    VariantStore.variants(spark, store).filter(col("genic_status") === "GENIC").count()

  /** One load → reload → qc pass on a fresh store, with its checks. The
    * checks run outside the timed calls. Returns the pass time, or None
    * when a call failed. */
  private def pass(spark: SparkSession, c: CohortFiles, store: String,
      rec: Recorder, tag: String): Option[Double] = {
    val e = c.expect
    val before = rec.calls.size
    val ok = rec.call("load")(load(spark, c, c.cohortDir, store)).map { got =>
      rec.check(s"$tag load (variants, details)", got, (e.variants, e.details))
    }.flatMap(_ => rec.call("reload")(load(spark, c, c.deltaPath, store))).map { got =>
      rec.check(s"$tag reload (variants, details)", got,
        (e.deltaNovelVariants, e.deltaNovelDetails))
    }.flatMap(_ => rec.call("qc")(qc(spark, c, store))).map { flips =>
      rec.check(s"$tag qc flips", flips, e.flips)
      rec.check(s"$tag genic variants after qc", genic(spark, store), e.genicAfterQc)
    }
    Dirs.delete(new File(store))
    ok.map(_ => rec.calls.drop(before).map(_._2).sum)
  }

  def setup(spark: SparkSession): Unit = {
    val scratch = new Recorder
    pass(spark, mini, s"${args.work}/store-setup", scratch, "setup")
    if (scratch.problems.nonEmpty)
      throw new IllegalStateException(scratch.problems.mkString("; "))
  }

  def measure(spark: SparkSession, deadlineNs: Long, rec: Recorder): Unit = {
    var i = 0
    while (i == 0 || System.nanoTime() < deadlineNs) {
      pass(spark, main, s"${args.work}/store-$i", rec, s"pass $i").foreach(rec.passes += _)
      i += 1
    }
  }

  def traced(spark: SparkSession, tracer: Tracer, rec: Recorder): Unit = {
    val c = main
    val e = c.expect
    val store = Dirs.fresh(s"${args.work}/store-traced")
    val sc = spark.sparkContext
    val samples = VcfSource.headerSamples(spark, c.deltaPath).size.toLong

    /** Each public stage, materialised in turn with a noop write over
      * the cached output of the stage before it. */
    def stages(input: String, tag: String): (Long, Long) = tracer.call(sc, s"stages-$tag") {
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      tracer.span("sources.vcf_parse")(noop(VcfSource.records(spark, input)))
      val records = VcfSource.records(spark, input).persist(StorageLevel.MEMORY_AND_DISK)
      val nRecords = records.count()
      val conf = config(spark, c, store)
      tracer.span("operators.normalize")(noop(
        VariantLoader.normalizedAllelesFromRecords(spark, records, conf)))
      val alleles = VariantLoader.normalizedAllelesFromRecords(spark, records, conf)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nAlleles = alleles.count()
      val g = genes(spark, s"${c.dir}/genes.tsv")
      tracer.span("operators.genic_probe")(noop(GenicAnnotator.annotateIndexed(alleles, g)))
      val classified = GenicAnnotator.annotateIndexed(alleles, g)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the novel rows the loader mints ids for: not yet in the store
      val known = VariantStore.variants(spark, store).select(
        col("chromosome"), col("start_pos"),
        coalesce(col("ref_nuc"), lit("")).as("__r"),
        coalesce(col("var_nuc"), lit("")).as("__v"))
      val novel = classified
        .withColumn("__r", coalesce(col("ref_nuc"), lit("")))
        .withColumn("__v", coalesce(col("var_nuc"), lit("")))
        .join(known, Seq("chromosome", "start_pos", "__r", "__v"), "left_anti")
        .drop("__r", "__v").persist(StorageLevel.MEMORY_AND_DISK)
      novel.count()
      tracer.span("operators.mint")(noop(VariantLoader.mintIdsDense(novel, conf.rgdIdSeed,
        keyExprs = Seq(col("start_pos"), coalesce(col("ref_nuc"), lit("")),
          coalesce(col("var_nuc"), lit(""))),
        tieBreak = Seq("end_pos", "allele_idx", "rs_id", "ref_nuc", "var_nuc",
          "variant_type", "padding_base", "genic_status", "genotypes").map(col))))
      Seq(novel, classified, alleles, records).foreach(_.unpersist())
      (nRecords, nAlleles)
    }

    /** A traced `--runLoad` whose result is materialised stage by stage
      * before the append: the dedup'd variants, then the sample melt. */
    def tracedLoad(input: String, name: String): (Long, Long) =
      rec.call(name)(tracer.call(sc, name) {
        load(spark, c, input, store, tracer, result => {
          tracer.span("operators.dedup")(
            result.variants.write.format("noop").mode("overwrite").save())
          tracer.span("operators.melt")(
            result.sampleDetails.write.format("noop").mode("overwrite").save())
        })
      }).getOrElse((-1L, -1L))

    val (cohortRecords, cohortAlleles) = stages(c.cohortDir, "load")
    val t0 = System.nanoTime()
    val loaded = tracedLoad(c.cohortDir, "etl.load")
    val loadS = (System.nanoTime() - t0) / 1e9
    val storeBytes = Dirs.bytes(new File(store))
    val (deltaRecords, deltaAlleles) = stages(c.deltaPath, "reload")
    val t1 = System.nanoTime()
    val reloaded = tracedLoad(c.deltaPath, "etl.reload")
    val reloadS = (System.nanoTime() - t1) / 1e9
    val appendedBytes = Dirs.bytes(new File(store))
    val appendedFiles = Dirs.walk(new File(store)).size
    val t2 = System.nanoTime()
    val flips = rec.call("etl.qc")(tracer.call(sc, "etl.qc")(qc(spark, c, store, tracer)))
      .getOrElse(-1L)
    val qcS = (System.nanoTime() - t2) / 1e9
    rec.passes += loadS + reloadS + qcS

    rec.check("traced cohort records", cohortRecords, e.records)
    rec.check("traced cohort alleles", cohortAlleles, e.alleles)
    rec.check("traced load (variants, details)", loaded, (e.variants, e.details))
    rec.check("traced reload (variants, details)", reloaded,
      (e.deltaNovelVariants, e.deltaNovelDetails))
    rec.check("traced qc flips", flips, e.flips)

    // the cohort's stages ran before the delta's
    val Seq(mintLoad, mintReload) = tracer.all.filter(_.name == "operators.mint").map(_.seconds)
    val meltRows = (cohortAlleles + deltaAlleles) * samples
    rec.layer("etl.load_s", loadS, "s")
    rec.layer("etl.reload_s", reloadS, "s")
    rec.layer("etl.qc_s", qcS, "s")
    rec.layer("sources.vcf_parse_s", tracer.seconds("sources.vcf_parse"), "s")
    rec.layer("sources.vcf_records", cohortRecords + deltaRecords, "count")
    rec.layer("operators.normalize_s", tracer.seconds("operators.normalize"), "s")
    rec.layer("operators.alleles", cohortAlleles + deltaAlleles, "count")
    rec.layer("operators.genic_probe_s", tracer.seconds("operators.genic_probe"), "s")
    rec.layer("operators.mint_s", mintLoad, "s")
    rec.layer("operators.reload_mint_s", mintReload, "s")
    rec.layer("operators.dedup_s", tracer.seconds("operators.dedup"), "s")
    rec.layer("operators.melt_s", tracer.seconds("operators.melt"), "s")
    rec.layer("operators.melt_rows", meltRows, "count")
    rec.layer("operators.detail_useful_ratio",
      (loaded._2 + reloaded._2).toDouble / meltRows, "ratio")
    rec.layer("operators.reload_melt_rows", deltaAlleles * samples, "count")
    rec.layer("operators.reload_detail_useful_ratio",
      reloaded._2.toDouble / (deltaAlleles * samples), "ratio")
    rec.layer("sources.store_snapshot_s", tracer.seconds("sources.store_snapshot"), "s")
    rec.layer("sources.store_append_s", tracer.seconds("sources.store_append"), "s")
    rec.layer("sources.store_bytes_written", appendedBytes, "bytes")
    rec.layer("sources.store_files_written", appendedFiles, "count")
    rec.layer("sources.store_bytes_per_vcf_byte", storeBytes.toDouble / c.vcfBytes, "ratio")
    rec.layer("sources.store_rewrite_s", tracer.seconds("sources.store_rewrite"), "s")
    rec.layer("sources.file_hash_s", tracer.seconds("sources.file_hash"), "s")
    e.asMap.foreach { case (k, v) => rec.facts(s"expect.$k") = v.toDouble }
    Dirs.delete(new File(store))
  }
}
