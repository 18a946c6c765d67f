package graft

import java.io.{File, PrintWriter}

import graft.model.LoadConfig
import graft.operators.{GenicQcJob, VariantLoader}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end load pipeline (E1) + QC (E2) over an in-test VCF fixture. */
class VariantLoaderSpec extends SparkSpec {
  import spark.implicits._

  private val vcf: String = {
    val f = File.createTempFile("graft-loader", ".vcf")
    f.deleteOnExit()
    val w = new PrintWriter(f)
    w.println("##fileformat=VCFv4.2")
    w.println("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")
    // snv / deletion / insertion / multi-allelic / chrM / scaffold / star
    w.println("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41\t0/0:40,0:40")
    w.println("chr1\t200\trs123\tACG\tA\t99\tPASS\t.\tGT:AD:DP\t1/1:0,30:30\t./.:.:.")
    w.println("chr1\t300\t.\tA\tACGT\t80\tPASS\t.\tGT:AD:DP\t0/1:10,5:15\t1/1:0,20:20")
    w.println("chr1\t400\t.\tAC\tA,ACTT\t60\tPASS\t.\tGT:AD:DP\t1/2:5,10,8:23\t0/1:12,6,0:18")
    w.println("chrM\t500\t.\tG\tC\t70\tPASS\t.\tGT:AD:DP\t0/1:7,7:14\t0/1:3,2:5")
    w.println("chr1_scaffold_12\t600\t.\tT\tG\t10\tPASS\t.\tGT:AD:DP\t0/1:1,1:2\t0/0:2,0:2")
    w.println("chr1\t700\t.\tTTT\t*\t30\tPASS\t.\tGT:AD:DP\t0/1:4,8:12\t0/1:2,3:.")
    w.close()
    f.getAbsolutePath
  }

  private def genes: DataFrame =
    Seq((1, "1", 90L, 110L), (2, "1", 350L, 450L), (3, "MT", 1L, 1000L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")

  private def emptyStore: DataFrame =
    Seq.empty[(Long, String, Long, Long, Option[String], Option[String],
        String, Option[String], Option[String], String, Int, Int)]
      .toDF(VariantLoader.variantCols: _*)

  private def emptyDetails: DataFrame =
    Seq.empty[(Long, Int)].toDF("rgd_id", "sample_id")

  private val config =
    LoadConfig(mapKey = 372, sampleDict = Map("S1" -> 11, "S2" -> 22),
      rgdIdSeed = 1000L)

  test("sample dictionary: none keeps column ids, partial keeps mapped, unmatched keeps none") {
    def details(dict: Map[String, Int]): Set[(Long, Int, Int, Int)] =
      VariantLoader.load(spark, vcf, genes, emptyStore, emptyDetails,
        config.copy(sampleDict = dict)).sampleDetails
        .select("rgd_id", "sample_id", "total_depth", "var_freq")
        .as[(Long, Int, Int, Int)].collect().toSet
    val full = details(config.sampleDict)
    assert(full.map(_._2) == Set(11, 22))
    // no dictionary: the header column index is the sample id
    val byIndex = details(Map.empty)
    assert(byIndex.map { case (r, i, d, f) => (r, Seq(11, 22)(i), d, f) } == full)
    // only the columns the dictionary names; names absent from the header
    // are ignored
    assert(details(Map("S2" -> 22, "OTHER" -> 5)) == full.filter(_._2 == 22))
    // a dictionary that names no header column yields no details
    assert(details(Map("OTHER" -> 99)).isEmpty)
  }

  test("fresh load: variants, ids, genic status, details") {
    val r = VariantLoader.load(spark, vcf, genes, emptyStore, emptyDetails,
      config)

    val vs = r.variants.orderBy("start_pos", "allele_idx" )
    val rows = r.variants
      .select("chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc",
        "variant_type", "padding_base", "genic_status", "rs_id")
      .orderBy("start_pos")
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        Option(x.getString(3)), Option(x.getString(4)), x.getString(5),
        Option(x.getString(6)), x.getString(7), Option(x.getString(8))))

    assert(rows.toSeq == Seq(
      ("1", 100L, 101L, Some("A"), Some("T"), "snv", None, "GENIC", None),
      ("1", 201L, 203L, Some("CG"), None, "deletion", Some("A"), "INTERGENIC", Some("rs123")),
      ("1", 301L, 302L, None, Some("CGT"), "insertion", Some("A"), "INTERGENIC", None),
      ("1", 401L, 402L, Some("C"), None, "deletion", Some("A"), "GENIC", None),
      ("1", 402L, 403L, None, Some("TT"), "insertion", Some("AC"), "GENIC", None),
      ("MT", 500L, 501L, Some("G"), Some("C"), "snv", None, "GENIC", None),
      ("1", 700L, 703L, Some("TTT"), None, "deletion", None, "INTERGENIC", None)))

    // W2: ids unique, above the seed, dense per chromosome
    val ids = r.variants.select("rgd_id").as[Long].collect().sorted
    assert(ids.distinct.length == ids.length)
    assert(ids.forall(_ > 1000L))
    assert(r.newVariants.count() == 7)
    assert(r.endPosUpdates.count() == 0)

    // details: P9 drops 0/0 and ./., P10 drops zero var_freq; the scaffold
    // record is gone (P3); sample ids resolve through the dictionary
    val d = r.sampleDetails
    // 12-column parity with the reference insert (DAO.java:70-75),
    // including the physically-stored unset-bean-default columns
    assert(d.columns.toSeq == Seq("rgd_id", "source", "sample_id",
      "total_depth", "var_freq", "zygosity_status", "zygosity_percent_read",
      "zygosity_poss_error", "zygosity_ref_allele", "zygosity_num_allele",
      "zygosity_in_pseudo", "quality_score"))
    assert(d.filter(col("source").isNull && col("zygosity_ref_allele").isNull
      && col("zygosity_num_allele") === 0 && col("quality_score").isNull)
      .count() == d.count())
    assert(d.filter(col("sample_id").isin(11, 22)).count() == d.count())
    // chr1:100 S2 is 0/0 → only S1 row survives for the snv
    val snvId = r.variants.filter(col("start_pos") === 100).select("rgd_id")
      .as[Long].head()
    assert(d.filter(col("rgd_id") === snvId).select("sample_id")
      .as[Int].collect().toSeq == Seq(11))
    // multi-allelic: S1 is 1/2 (both alleles, AD 10 and 8), S2 0/1 with
    // AD[2]=0 dropped by P10 → 3 detail rows across the two alleles
    val maIds = r.variants.filter(col("start_pos").isin(401, 402))
      .select("rgd_id").as[Long].collect().toSet
    assert(d.filter(col("rgd_id").isInCollection(maIds)).count() == 3)
    // zygosity: 1/1 with 100% reads → homozygous
    val delId = r.variants.filter(col("start_pos") === 201).select("rgd_id")
      .as[Long].head()
    val z = d.filter(col("rgd_id") === delId)
      .select("zygosity_status", "zygosity_percent_read").collect().head
    assert(z.getString(0) == "homozygous" && z.getInt(1) == 100)
  }

  test("idempotent reload: zero new variants, zero new details") {
    val first = VariantLoader.load(spark, vcf, genes, emptyStore, emptyDetails,
      config)
    val store = first.variants
    val details = first.sampleDetails.select("rgd_id", "sample_id")

    val second = VariantLoader.load(spark, vcf, genes, store, details, config)
    assert(second.newVariants.count() == 0)
    assert(second.sampleDetails.count() == 0)
    assert(second.endPosUpdates.count() == 0)
    // and the matched set carries the ORIGINAL ids (stable identity)
    val origIds = first.variants.select("rgd_id").as[Long].collect().toSet
    val reIds = second.variants.select("rgd_id").as[Long].collect().toSet
    assert(reIds == origIds)
  }

  test("intra-batch duplicates: one minted id, first-wins details") {
    // two records in ONE batch normalizing to the same variant key — the
    // J4 snapshot join can't see them (both look novel); dense minting
    // must give them the same rgd_id, insert one variant row, and the
    // detail melt must keep one row per (rgd_id, sample)
    val f = File.createTempFile("graft-dup", ".vcf")
    f.deleteOnExit()
    val w = new PrintWriter(f)
    w.println("##fileformat=VCFv4.2")
    w.println("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2")
    w.println("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41\t0/0:40,0:40")
    w.println("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:30,7:37\t0/1:20,5:25")
    w.close()

    val r = VariantLoader.load(spark, f.getAbsolutePath, genes, emptyStore,
      emptyDetails, config)
    assert(r.newVariants.count() == 1)
    val ids = r.variants.select("rgd_id").as[Long].collect()
    assert(ids.length == 2 && ids.distinct.length == 1)
    // S1 appears in both lines → deduped to one detail; S2 only in line 2
    val d = r.sampleDetails.select("sample_id", "var_freq").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSet
    assert(d.map(_._1) == Set(11, 22))
    assert(d.size == 2)
    // first-wins is deterministic: S1 keeps the higher var_freq row (9)
    assert(d.contains((11, 9)))
  }

  test("genic QC is a fixpoint after a clean load (interval probe)") {
    val r = VariantLoader.load(spark, vcf, genes, emptyStore, emptyDetails,
      config)
    val changed = GenicQcJob.run(spark, vcf, genes, r.variants, config,
      pointProbe = false)
    assert(changed.count() == 0)
  }

  test("genic QC point-probe quirk flags straddle-only overlaps") {
    val r = VariantLoader.load(spark, vcf, genes, emptyStore, emptyDetails,
      config)
    // gene [402,450]: insertion at start 402 overlaps on [start,end] and on
    // the point probe; deletion 401-402 overlaps intervals but NOT the
    // point [401,401] → the reference's QC would flip it (the documented
    // loader/QC inconsistency, GenicQc.java:232 vs HrdpVariants.java:522)
    val narrowGenes = Seq((9, "1", 402L, 450L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val store = VariantLoader.load(spark, vcf, narrowGenes, emptyStore,
      emptyDetails, config).variants
    val changed = GenicQcJob.run(spark, vcf, narrowGenes, store, config)
    val flipped = changed.select("start_pos", "genic_status").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(flipped.contains((401L, "INTERGENIC")))
  }

  test("genic QC walks a multi-file VCF folder (GenicQc.java:34-37)") {
    // the reference's --genicQc iterates every VCF in a directory; here
    // the folder holds two files whose loci only jointly cover the store
    val dir = java.nio.file.Files.createTempDirectory("graft-qc-multi")
    def write(name: String, lines: Seq[String]): Unit = {
      val w = new PrintWriter(new File(dir.toFile, name))
      w.println("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1")
      lines.foreach(w.println)
      w.close()
    }
    write("a.vcf",
      Seq("chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:32,9:41"))
    write("b.vcf",
      Seq("chr1\t800\t.\tG\tC\t50\tPASS\t.\tGT:AD:DP\t0/1:5,9:14"))
    val glob = s"$dir/*.vcf"
    val r = VariantLoader.load(spark, glob, genes, emptyStore, emptyDetails,
      config)
    assert(r.variants.count() == 2) // one variant per file

    // fixpoint: a clean multi-file load has nothing to repair
    assert(GenicQcJob.run(spark, glob, genes, r.variants, config,
      pointProbe = false).count() == 0)

    // flipping the gene set must touch loci from BOTH files — proof the
    // QC scan saw every file, not just the first
    val genes2 = Seq((7, "1", 790L, 810L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val flipped = GenicQcJob.run(spark, glob, genes2, r.variants, config,
      pointProbe = false)
      .select("start_pos", "genic_status").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSet
    assert(flipped == Set((100L, "INTERGENIC"), (800L, "GENIC")))
  }
}
