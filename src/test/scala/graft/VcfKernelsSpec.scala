package graft

import scala.util.Try

import graft.model.{CompatFlags, LoadConfig}
import graft.operators.VariantLoader
import graft.sources.VcfSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Pins the native VCF kernels ([[graft.functions.VcfExpressions]]) to the
 * built-in chains they replaced ([[LegacyVcfChains]]): the sample melt on
 * all 12 detail columns over generated and hand-picked genotype blobs,
 * and the line parse with its contig filter and depth gate over
 * malformed lines. Where a chain fails the job (ANSI index or cast
 * errors), the kernel path must fail too.
 */
class VcfKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** Sorted rows of a frame, or "fails" when its job throws. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    Try(df.collect().map(_.toString).sorted.toSeq).toEither.left.map(_ => "fails")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  // -------------------------------------------------------------------
  // melt
  // -------------------------------------------------------------------

  /** (allele_idx, sample blobs; None = no genotypes). */
  private type MeltCase = (Int, Option[Seq[String]])

  private val intText: Gen[String] = Gen.frequency(
    6 -> Gen.choose(-3, 60).map(_.toString),
    1 -> Gen.choose(-1000000, 1000000).map(_.toString),
    3 -> Gen.oneOf(".", "", "0", "-0", "+7", " 12", "12 ", " 1 2", "1.5", "1.",
      "-", "+", "2147483648", "-2147483649", "99999999999", "abc", "\u00017",
      "7\u0000", "00012"))
  private val gtText: Gen[String] = Gen.oneOf("0/0", "./.", "0/1", "1/1", "1/2",
    "2/3", "0|1", ".", "", "0/0 ", "./", "0/00")
  private val adText: Gen[String] =
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, intText)).map(_.mkString(","))
  // the free-form junk stays short: an 8-byte blob cannot carry a depth
  // large enough to overflow the percent read
  private val blob: Gen[String] = Gen.frequency(
    1 -> gtText,
    1 -> Gen.zip(gtText, adText).map { case (g, a) => s"$g:$a" },
    6 -> Gen.zip(gtText, adText, intText).map { case (g, a, d) => s"$g:$a:$d" },
    1 -> Gen.zip(gtText, adText, intText, intText).map {
      case (g, a, d, q) => s"$g:$a:$d:$q" },
    1 -> Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("0", "1", "/", ":", ",", ".", " ", "-", "9"))).map(_.mkString))
  private val meltCase: Gen[MeltCase] = Gen.zip(Gen.choose(0, 3),
    Gen.frequency(1 -> Gen.const(None),
      12 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, blob)).map(Some(_))))

  private val edgeCases: Seq[MeltCase] = Seq(
    0 -> None,
    0 -> Some(Seq("0/0:5,3:8", "./.:.:.", "./.", "0/0")),
    0 -> Some(Seq("0/1", "0/1:", "0/1::", "1/1:7")),
    1 -> Some(Seq("1/2:5,3:8", "1/2:5,3,4:8")),
    3 -> Some(Seq("1/2:5,3,2,1:9", "1/2:5,3,2,1,6:9")),
    0 -> Some(Seq("0/1:.:.", "0/1:5,.:7", "0/1:5,:7", "0/1:5,3:.", "0/1:5,3:")),
    0 -> Some(Seq("0/1:5,-3:8", "0/1:5,3:-8", "0/1:5,2147483648:8",
      "0/1:5,3:2147483648", "0/1:5,3:-2147483649")),
    0 -> Some(Seq("0/1: 5 , 3 : 8 ", "0/1:5, 3:8", " 0/0:5,3:8", "0/0 :5,3:8")),
    2 -> Some(Seq("1/1:0,0,17:20", "0/1:3,0,3:20", "2/2:1,1,2147483647:0")),
    // 85 %, 15 %, 100 % and just off each threshold
    0 -> Some(Seq("0/1:1,17:20", "0/1:3,3:20", "0/1:1,1:1", "0/1:0,849:1000",
      "0/1:0,151:1000", "0/1:0,1:3", "0/1:0,2:3")))

  private def generated(n: Int, seed: Long): Seq[MeltCase] =
    Gen.listOfN(n, meltCase).pureApply(Gen.Parameters.default, Seed(seed))

  /** The legacy input (split cells) of the given cases. */
  private def legacyVariants(cases: Seq[MeltCase]): DataFrame =
    cases.zipWithIndex.map { case ((allele, blobs), i) =>
      (i.toLong, "1", 100L + i, allele, blobs)
    }.toDF("rgd_id", "chromosome", "start_pos", "allele_idx", "genotypes")

  /** The same rows as the loader carries them: blobs joined by tabs. */
  private def kernelVariants(cases: Seq[MeltCase]): DataFrame =
    legacyVariants(cases).withColumn("genotypes", array_join(col("genotypes"), "\t"))

  private val emptyDetails = Seq.empty[(Long, Int)].toDF("rgd_id", "sample_id")

  private val dictionaries = Seq(
    Map.empty[Int, Int],
    // header columns 1 and 4 are outside the dictionary
    Map(0 -> 11, 2 -> 33, 3 -> -4, 5 -> 0))

  private def meltBoth(cases: Seq[MeltCase], ids: Map[Int, Int], intDiv: Boolean)
      : (Either[String, Seq[String]], Either[String, Seq[String]]) = {
    val config = LoadConfig(mapKey = 372,
      compat = CompatFlags(intDivisionPercentRead = intDiv))
    (outcome(LegacyVcfChains.sampleDetails(legacyVariants(cases), emptyDetails,
        config, ids, intraBatchDedup = false)),
      outcome(VariantLoader.sampleDetails(kernelVariants(cases), emptyDetails,
        config, ids, intraBatchDedup = false)))
  }

  test("melt kernel ≡ legacy chain on 600 generated cases per configuration") {
    for ((ids, d) <- dictionaries.zipWithIndex; intDiv <- Seq(false, true)) {
      val cases = generated(600, 20261018L + d)
      val (legacy, kernel) = meltBoth(cases, ids, intDiv)
      assert(legacy.isRight, s"generated batch must not overflow: $legacy")
      assert(kernel == legacy, s"dictionary=$ids intDivision=$intDiv")
      assert(legacy.toOption.get.size > 300, "fixture: most batches keep rows")
    }
  }

  test("melt kernel ≡ legacy chain on the edge list, codegen and interpreted") {
    for (ids <- dictionaries; intDiv <- Seq(false, true)) {
      val (legacy, kernel) = meltBoth(edgeCases, ids, intDiv)
      assert(legacy.isRight && kernel == legacy, s"dictionary=$ids intDivision=$intDiv")
    }
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      for (intDiv <- Seq(false, true)) {
        val (legacy, kernel) = meltBoth(edgeCases ++ generated(200, 7L),
          dictionaries(1), intDiv)
        assert(legacy.isRight && kernel == legacy, s"interpreted, intDivision=$intDiv")
      }
    }
  }

  test("melt kernel fails where the chain's percent-read cast overflows") {
    val cases: Seq[(MeltCase, Boolean, Boolean)] = Seq(
      // (case, intDivision, the chain fails)
      ((0, Some(Seq("0/1:0,2147483647:1"))), false, true),
      // the chain computes the rounded percent even under int division
      ((0, Some(Seq("0/1:0,2147483647:1"))), true, true),
      ((0, Some(Seq("0/1:0,2147483647:1000"))), true, false),
      ((0, Some(Seq("0/1:0,-2147483648:-1"))), true, true),
      ((0, Some(Seq("0/1:0,-2147483648:-1"))), false, true),
      ((0, Some(Seq("0/1:0,20000000:1"))), false, false))
    for ((c, intDiv, fails) <- cases) {
      val (legacy, kernel) = meltBoth(Seq(c), Map.empty, intDiv)
      assert(legacy.isLeft == fails, s"$c intDivision=$intDiv: $legacy")
      assert(kernel == legacy, s"$c intDivision=$intDiv")
    }
  }

  // -------------------------------------------------------------------
  // parse, contig filter, depth gate
  // -------------------------------------------------------------------

  private val fmt = "chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP"

  /** Short, but the contig filter drops it before its fields are read. */
  private val shortScaffold = "chr1_unplaced\t5"

  private val wellFormed = Seq(
    s"$fmt\t0/1:3,4:7",
    "chr2\t7\trs5\tAC\tA,ACT\t.\t.\tDP=3\tGT:AD:DP\t1/2:1,2,3:6\t0/0:4,0,0:4",
    fmt, // FORMAT but no sample column
    s"$fmt\t0/1:3,4:7\t", // trailing tab
    s"$fmt\t", // one empty sample column
    "chrUn_scaffold_12\t5\t.\tA\tT\t.\t.\t.\tGT\t0/1",
    shortScaffold,
    "chr3_random_contig\t100\t.\tA\tT\t.\t.\t.\tGT:AD:DP\t0/1:1,1:2",
    "chr4_unloc\t100\t.\tA\tT\t.\t.\t.\tGT:AD:DP\t0/1:1,1:2",
    s"$fmt\t0/1:3,4:0\t0/1:1,1:2", // first-sample DP 0: whole record drops
    s"$fmt\t0/1:3,4:.\t0/1:1,1:0", // first-sample DP '.': kept
    s"$fmt\t0/1:3,4\t0/1:1,1:2", // first sample without DP
    "chrM\t9\t.\tG\tC\t.\t.\t.\tGT:AD:DP\t0/1: 1,1 : 0 ", // DP " 0 " is 0
    "chrX\t5\t.\tTTT\t*\t.\t.\t.\tGT:AD:DP\t0/1:1,1:2",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    "chr2\t8\trs6\tA\tG\t.\t.\t.\tGT:AD:DP\t0/1:1,1:2")

  /** Sites-only: no FORMAT column. The load never reads the fields it
    * lacks, so only the full record parse fails on it. */
  private val sitesOnly = "chr1\t100\t.\tA\tT\t50\tPASS\t."

  private val malformed = Seq(
    "chr1\t100\t.\tA", // missing columns
    "", // empty line
    "chr1\tabc\t.\tA\tT\t50\tPASS\t.\tGT:AD:DP\t0/1:3,4:7") // non-numeric POS

  /** The lines as the load reads them: a text file. (A local relation
    * would let the optimizer evaluate the legacy projection before its
    * filter.) */
  private def lines(ls: Seq[String]): DataFrame = {
    val f = java.io.File.createTempFile("graft-lines", ".vcf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.read.text(f.getPath)
  }

  /** Legacy records with the cells joined back the kernel's way. */
  private def legacyRecords(ls: Seq[String]): DataFrame =
    LegacyVcfChains.records(lines(ls)).withColumn("genotypes",
      when(size(col("genotypes")) === 0, lit(null).cast("string"))
        .otherwise(array_join(col("genotypes"), "\t")))

  private val config = LoadConfig(mapKey = 372)

  private def legacyAlleles(ls: Seq[String]): DataFrame = {
    val cells = LegacyVcfChains.records(lines(ls))
    val gated = LegacyVcfChains.gated(cells, config).drop("chromosome")
      .withColumn("genotypes",
        when(size(col("genotypes")) === 0, lit(null).cast("string"))
          .otherwise(array_join(col("genotypes"), "\t")))
    // the normalize steps after the gate are shared
    VariantLoader.normalizedAllelesFromRecords(spark, gated,
      config.copy(filterZeroDepth = false))
  }

  private def kernelAlleles(ls: Seq[String]): DataFrame =
    VariantLoader.normalizedAllelesFromRecords(spark,
      VcfSource.recordsFromLines(lines(ls)), config)

  test("line parse ≡ legacy split on well-formed and edge lines") {
    val parsed = wellFormed.filterNot(_ == shortScaffold)
    val recs = outcome(VcfSource.recordsFromLines(lines(parsed)))
    assert(recs.isRight && recs == outcome(legacyRecords(parsed)))
    val alleles = outcome(kernelAlleles(wellFormed))
    assert(alleles.isRight && alleles == outcome(legacyAlleles(wellFormed)))
    // the gate and contig filter bit: scaffolds, DP 0 and " 0 " are gone
    val kept = alleles.toOption.get
    assert(kept.size == 10, kept.mkString("\n"))
  }

  test("line parse, filter and gate ≡ legacy chain line by line, malformed included") {
    for (l <- wellFormed ++ malformed :+ sitesOnly) {
      assert(outcome(VcfSource.recordsFromLines(lines(Seq(l)))) ==
        outcome(legacyRecords(Seq(l))), s"records of '$l'")
      assert(outcome(kernelAlleles(Seq(l))) == outcome(legacyAlleles(Seq(l))),
        s"alleles of '$l'")
    }
    // a malformed line fails the load, as it always has under ANSI
    malformed.foreach(l => assert(outcome(kernelAlleles(Seq(l))).isLeft, l))
    assert(outcome(VcfSource.recordsFromLines(lines(Seq(sitesOnly)))).isLeft)
    assert(outcome(kernelAlleles(Seq(sitesOnly))).map(_.size) == Right(1))
  }

  test("header samples come from the first file's #CHROM line, gz or plain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-header")
    def write(name: String, samples: Seq[String], gz: Boolean): Unit = {
      val body = (Seq("##fileformat=VCFv4.2",
        ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: samples)
          .mkString("\t"), s"$fmt\t0/1:3,4:7").mkString("", "\n", "\n"))
        .getBytes("UTF-8")
      val out = java.nio.file.Files.newOutputStream(dir.resolve(name))
      val w = if (gz) new java.util.zip.GZIPOutputStream(out) else out
      try w.write(body) finally w.close()
    }
    write("b.vcf", Seq("B1"), gz = false)
    write("a.vcf.gz", Seq("A1", "A2"), gz = true)
    assert(VcfSource.headerSamples(spark, dir.toString) == Seq("A1", "A2"))
    assert(VcfSource.headerSamples(spark, s"$dir/*.vcf") == Seq("B1"))
    assert(VcfSource.headerSamples(spark, s"$dir/a.vcf.gz") == Seq("A1", "A2"))
  }
}
