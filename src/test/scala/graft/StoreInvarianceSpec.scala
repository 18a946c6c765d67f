package graft

import java.io.{File, PrintWriter}
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.model.LoadConfig
import graft.operators.VariantLoader
import graft.sources.VariantStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The variant load's parallelism gate: one fixture cohort, loaded and
 * then reloaded with a delta, must leave a hash-identical store —
 * variants with their minted rgd_ids, and details — under `local[1]` and
 * `local[4]`, at shuffle widths 1, 7 and 32, from one file or four gz
 * chunks. Every append writes at most one file per bucket, and every row
 * in a file hashes to that file's bucket.
 */
object StoreInvariance {

  val samples: Seq[String] = (1 to 8).map(i => s"S$i")
  // S4 is outside the dictionary: its column drops
  val sampleDict: Map[String, Int] =
    samples.zipWithIndex.collect { case (s, i) if i != 3 => s -> (101 + i) }.toMap

  private val header =
    ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: samples).mkString("\t")

  private val shapes = Seq(("A", Seq("C")), ("A", Seq("C", "G")), ("AC", Seq("A")),
    ("A", Seq("ACT")), ("TTT", Seq("*", "T")), ("AG", Seq("CT")))
  private val chroms = Seq("chr1", "chr1", "chr2", "chrX", "chrM", "chr2_scaffold_9")

  /** Seeded records: colliding loci, multi-allelics, `*`, hom-ref,
    * no-calls, '.' depths and the odd first-sample DP 0. */
  private def records(rng: Random, n: Int, posBase: Int): Seq[String] =
    (0 until n).map { i =>
      val (ref, alts) = shapes(rng.nextInt(shapes.size))
      val blobs = samples.indices.map { s =>
        val ad = (0 to alts.size).map(_ => rng.nextInt(30))
        val dp = if (s == 0 && rng.nextInt(25) == 0) "0" else ad.sum.toString
        rng.nextInt(6) match {
          case 0 => s"0/0:${ad.mkString(",")}:$dp"
          case 1 => "./.:.:."
          case 2 => s"0/1:${ad.mkString(",")}:."
          case 3 => s"1/1:0,${ad.tail.mkString(",")}:$dp"
          case _ => s"0/1:${ad.mkString(",")}:$dp"
        }
      }
      val id = if (rng.nextBoolean()) "." else s"rs${posBase + i}"
      Seq(chroms(rng.nextInt(chroms.size)), posBase + rng.nextInt(1500), id, ref,
        alts.mkString(","), "50", "PASS", ".", "GT:AD:DP").mkString("\t") +
        "\t" + blobs.mkString("\t")
    }

  private def write(f: File, lines: Seq[String], gz: Boolean = false): Unit = {
    f.getParentFile.mkdirs()
    val out = Files.newOutputStream(f.toPath)
    val w = new PrintWriter(if (gz) new java.util.zip.GZIPOutputStream(out) else out)
    try (header +: lines).foreach(w.println) finally w.close()
  }

  /** cohort.vcf, the same records as chunks/part-{0..3}.vcf.gz, and
    * delta.vcf (re-delivered, re-genotyped and novel records). */
  def writeFixture(dir: File): Unit = {
    val rng = new Random(20261018L)
    val base = records(rng, 400, 1000)
    // in-file duplicates: exact, and same key with other genotypes
    val cohort = base ++ base.take(8) ++ records(new Random(7L), 8, 1000)
    write(new File(dir, "cohort.vcf"), cohort)
    (0 until 4).foreach { k =>
      write(new File(dir, s"chunks/part-$k.vcf.gz"),
        cohort.zipWithIndex.collect { case (l, i) if i % 4 == k => l }, gz = true)
    }
    write(new File(dir, "delta.vcf"),
      base.slice(100, 130) ++ records(new Random(7L), 12, 1000) ++
        records(rng, 30, 5000))
  }

  private def genes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "1", 1200L, 1600L), (2, "2", 1000L, 1100L), (3, "X", 2000L, 2400L),
      (4, "MT", 1L, 20000L), (5, "1", 5100L, 5300L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
  }

  private def parts(dir: File): Set[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).toSet

  private val bucketOf = raw".*_(\d+)(?:\..*)?$$".r

  /** Violations of one-file-per-bucket and bucket membership among the
    * files one append added to a store side. */
  private def bucketProblems(spark: SparkSession, dir: File, before: Set[File],
      keys: Seq[String]): Seq[String] = {
    val added = (parts(dir) -- before).toSeq
    val ids = added.map(f => f.getName -> (f.getName match {
      case bucketOf(b) => b.toInt
    })).toMap
    val shared = ids.groupBy(_._2).collect {
      case (b, fs) if fs.size > 1 => s"${dir.getName}: bucket $b in ${fs.size} files"
    }.toSeq
    val stray =
      if (added.isEmpty) Nil
      else spark.read.parquet(added.map(_.getPath): _*)
        .select(input_file_name().as("f"),
          pmod(hash(keys.map(col): _*), lit(VariantStore.NumBuckets)).as("b"))
        .distinct().collect().toSeq
        .map(r => (new File(new java.net.URI(r.getString(0))).getName, r.getInt(1)))
        .collect { case (f, b) if ids(f) != b => s"${dir.getName}: row of bucket $b in $f" }
    shared ++ stray
  }

  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** `--runLoad` of `input` into `store` as the CLI runs it; returns the
    * bucket problems of its append. */
  private def load(spark: SparkSession, input: String, store: File): Seq[String] = {
    val dir = store.getPath
    val config = LoadConfig(mapKey = 372, sampleDict = sampleDict,
      rgdIdSeed = VariantStore.maxRgdId(spark, dir, 1000L))
    val r = VariantLoader.load(spark, input, genes(spark),
      VariantStore.variants(spark, dir), VariantStore.detailKeys(spark, dir), config)
    val sides = Seq("variants" -> Seq("chromosome", "start_pos"),
      "details" -> Seq("rgd_id", "sample_id"))
    val before = sides.map { case (side, _) => parts(new File(store, side)) }
    VariantStore.append(r, dir)
    r.unpersist()
    sides.zip(before).flatMap { case ((side, keys), b) =>
      bucketProblems(spark, new File(store, side), b, keys)
    }
  }

  final case class Outcome(label: String, variants: String, details: String,
      nVariants: Long, nDetails: Long)

  /** Load + reload for every shuffle width and input shape on `spark`. */
  def runGrid(spark: SparkSession, fixture: File, work: File)
      : (Seq[Outcome], Seq[String]) = {
    val master = spark.sparkContext.master
    val runs = for {
      width <- Seq(1, 7, 32)
      input <- Seq("cohort.vcf", "chunks")
    } yield {
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try {
        val store = new File(work, s"store-$width-$input")
        val problems = load(spark, new File(fixture, input).getPath, store) ++
          load(spark, new File(fixture, "delta.vcf").getPath, store)
        val vs = VariantStore.variants(spark, store.getPath)
        val ds = spark.read.parquet(s"$store/details")
        (Outcome(s"$master width=$width input=$input", digest(vs), digest(ds),
          vs.count(), ds.count()), problems)
      } finally spark.conf.unset("spark.sql.shuffle.partitions")
    }
    (runs.map(_._1), runs.flatMap(_._2))
  }

  /** `StoreInvariance <master> <fixture dir> <work dir>`: runs the grid
    * in a fresh JVM and prints one tab-separated line per outcome. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session(args(0))
    try {
      val (outcomes, problems) = runGrid(spark, new File(args(1)), new File(args(2)))
      outcomes.foreach(o => println(Seq("OUTCOME", o.label, o.variants, o.details,
        o.nVariants, o.nDetails).mkString("\t")))
      problems.foreach(p => println(s"PROBLEM\t$p"))
    } finally spark.stop()
  }
}

class StoreInvarianceSpec extends SparkSpec {
  import StoreInvariance.Outcome

  /** The grid under `master` in a child JVM with this JVM's module flags. */
  private def inChildJvm(master: String, fixture: File, work: File)
      : (Seq[Outcome], Seq[String]) = {
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.zip(inherited.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") || a.startsWith("-Dspark.") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ opens ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.StoreInvariance", master, fixture.getPath, work.getPath)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor(10, TimeUnit.MINUTES) && p.exitValue() == 0,
      out.takeRight(40).mkString("\n"))
    val fields = out.map(_.split("\t", -1).toSeq)
    (fields.collect { case Seq("OUTCOME", l, v, d, nv, nd) =>
      Outcome(l, v, d, nv.toLong, nd.toLong) },
      fields.collect { case Seq("PROBLEM", p) => p })
  }

  test("load + reload store is hash-identical across masters, widths and chunking") {
    val fixture = Files.createTempDirectory("graft-invariance").toFile
    StoreInvariance.writeFixture(fixture)
    val (here, hereProblems) = StoreInvariance.runGrid(spark, fixture,
      Files.createTempDirectory("graft-invariance-4").toFile)
    val (child, childProblems) = inChildJvm("local[1]", fixture,
      Files.createTempDirectory("graft-invariance-1").toFile)
    assert(hereProblems.isEmpty && childProblems.isEmpty,
      (hereProblems ++ childProblems).mkString("\n"))
    val all = here ++ child
    assert(all.size == 12 && all.map(_.label).distinct.size == 12, all.mkString("\n"))
    val reference = all.head
    all.foreach { o =>
      assert((o.variants, o.details) == (reference.variants, reference.details),
        s"${o.label} differs from ${reference.label}")
    }
    assert(reference.nVariants > 300 && reference.nDetails > 1000, reference)
  }

  test("J4 and J6 shuffle only the batch side against the bucketed store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-invariance-plan").toString
    val fixture = Files.createTempDirectory("graft-invariance-fixture").toFile
    StoreInvariance.writeFixture(fixture)
    val config = LoadConfig(mapKey = 372, sampleDict = StoreInvariance.sampleDict)
    val genes = Seq((1, "1", 1200L, 1600L))
      .toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val r = VariantLoader.load(spark, s"$fixture/delta.vcf", genes,
      VariantStore.variants(spark, dir), VariantStore.detailKeys(spark, dir), config)
    VariantStore.append(r, dir)
    r.unpersist()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def assertOneExchange(df: DataFrame): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
      }
      val batch = Seq(("1", 1234L, Option("A"), Option.empty[String]))
        .toDF("chromosome", "start_pos", "ref_nuc", "var_nuc")
      assertOneExchange(VariantLoader.matchStore(batch, VariantStore.variants(spark, dir)))
      val variants = Seq((5L, "1", 1234L, 0, "0/1:3,4:7\t1/1:0,9:9"))
        .toDF("rgd_id", "chromosome", "start_pos", "allele_idx", "genotypes")
      assertOneExchange(VariantLoader.sampleDetails(variants,
        VariantStore.detailKeys(spark, dir), config, Map(0 -> 101, 1 -> 102),
        intraBatchDedup = true))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }
}
