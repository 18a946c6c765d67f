package graft.tools

import graft.GraftSession
import graft.model.LoadConfig
import graft.operators.{GenicAnnotator, VariantLoader}
import graft.sources.{VariantStore, VcfSource}

/**
 * Usage example / smoke driver: runs a (gzipped) VCF through the public
 * API — source → explode alleles → normalize → genic-annotate → full
 * load with the zygosity-carrying sample melt — and prints each stage.
 *
 *   sbt "runMain graft.tools.VcfDemo /path/to/file.vcf.gz"
 */
object VcfDemo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/graft-verify/sample.vcf.gz")
    val spark = GraftSession("local[4]", 4, Some("graft-vcf-demo"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    println("=== header samples ===")
    println(VcfSource.headerSamples(spark, path).mkString(", "))

    println("=== parsed records ===")
    VcfSource.records(spark, path).show(20, truncate = false)

    val cfg = LoadConfig(mapKey = 372,
      sampleDict = Map("ACI_EurMcwi_2019NG" -> 11, "BN_NHsdMcwi_2019NG" -> 22),
      rgdIdSeed = 5000L)
    val norm = VariantLoader.normalizedAlleles(spark, path, cfg)
    println("=== normalized variants ===")
    norm.drop("genotypes").orderBy("start_pos").show(20, truncate = false)

    val genes = Seq((1, "1", 90L, 110L), (2, "1", 350L, 450L),
      (3, "MT", 1L, 1000L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    println("=== genic ===")
    GenicAnnotator.annotateIndexed(norm.drop("genotypes"), genes)
      .orderBy("start_pos", "variant_type").show(20, truncate = false)

    println("=== full load pipeline (E1) ===")
    val loaded = VariantLoader.load(spark, path, genes,
      VariantStore.emptyVariants(spark),
      Seq.empty[(Long, Int)].toDF("rgd_id", "sample_id"), cfg)
    loaded.variants.orderBy("start_pos").show(20, truncate = false)
    println("=== sample details with zygosity ===")
    loaded.sampleDetails.orderBy("rgd_id", "sample_id").show(30, truncate = false)

    spark.stop()
  }
}
