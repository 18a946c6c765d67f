package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.{VariantColumns, VcfExpressions}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * VCF text source (SURVEY.md §2.1 S1-S3).
 *
 * The reference streams one gzip file line-at-a-time
 * (DAO.java:186-199, HrdpVariants.java:87-115). Here the file (or a whole
 * directory glob of files, S2 — DAO.java:173-184) is read with
 * `spark.read.text`, which handles .gz transparently; records become one
 * DataFrame with the fixed columns plus `genotypes`, the header's sample
 * columns as one tab-joined string (S3 — HrdpVariants.java:95-110).
 *
 * Parse layout: each field is cut from the raw line by a native byte walk
 * ([[graft.functions.VcfExpressions.TabField]]) that reads only up to the
 * field it returns, and the sample columns stay one string that the melt
 * walks once. Catalyst pushes the load's contig filter and first-sample
 * depth gate below this projection, onto the raw line; there they read a
 * few bytes each instead of re-splitting the whole line.
 *
 * Scale note: a single .gz file is a single input partition (gzip is not
 * splittable). At 100 TB inputs arrive as many files, so parallelism comes
 * from the file count; when there are fewer input partitions than half
 * the cores, the raw data lines are round-robined across the cores before
 * the parse. For genuinely huge single files, pre-split or use bgzip.
 */
object VcfSource {

  /** Column layout of a parsed (but not yet normalized) VCF record. */
  val fixedCols: Seq[String] =
    Seq("chrom", "pos", "rs_id", "ref", "alt", "qual", "filter", "info", "format")

  /**
   * Reads the sample names from the `#CHROM` header line of the first
   * input file in name order. Runs on the driver and reads only the
   * header lines, mirroring the reference's sequential header scan
   * (HrdpVariants.java:97); the codec (.gz or plain) follows the file
   * name, as in Spark's own text source.
   */
  def headerSamples(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val first = Option(fs.globStatus(glob)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"no VCF input at $path"))
    val codec = new CompressionCodecFactory(conf).getCodec(first)
    val raw = fs.open(first)
    val in = new BufferedReader(new InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw), UTF_8))
    try {
      Iterator.continually(in.readLine())
        .takeWhile(l => l != null && l.startsWith("#"))
        .find(_.startsWith("#CHROM"))
        .getOrElse(throw new IllegalArgumentException(s"no #CHROM header in $first"))
        .split("\t").drop(9).toSeq
    } finally in.close()
  }

  /**
   * Parses VCF records into a DataFrame:
   * `(chrom, pos, rs_id, ref, alt, qual, filter, info, format,
   *   genotypes: string)`, `genotypes` being the sample columns joined by
   * tabs (null when the line has none).
   *
   * - `##`/header lines dropped (P1, HrdpVariants.java:95-96)
   * - tab split (P2, :172); fixed 9 columns + the rest as `genotypes`
   * - rs_id "." → null (P6, :191-195)
   * - chromosome left RAW here; contig filter + normalization (P3/P4) are
   *   applied by the load pipeline so the quirk flags stay in one place.
   *
   * Field semantics are those of `split(value, "\t", -1)`: trailing
   * empty fields are kept (Java's `String.split("\t")` drops them,
   * SURVEY.md §2.6, but a trailing empty genotype column is data
   * corruption we'd rather surface than hide), and a line short of the 9
   * fixed fields fails the load under ANSI.
   */
  def records(spark: SparkSession, path: String): DataFrame =
    recordsFromLines(spark.read.text(path))

  /** [[records]] over an existing line DataFrame (`value: string`) — the
    * entry point streaming micro-batches use. */
  def recordsFromLines(raw: DataFrame): DataFrame = {
    val lines = raw.filter(!col("value").startsWith("#"))
    // a single .gz file is ONE input partition: spread its raw lines over
    // the cores so the parse and everything after it run in parallel
    val parallelism = raw.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (lines.rdd.getNumPartitions < parallelism / 2) lines.repartition(parallelism)
      else lines
    def field(i: Int) = VcfExpressions.tabField(col("value"), i)
    balanced.select(
      field(0).as("chrom"),
      field(1).cast("long").as("pos"),
      VariantColumns.dotToNull(field(2)).as("rs_id"),
      field(3).as("ref"),
      field(4).as("alt"),
      field(5).as("qual"),
      field(6).as("filter"),
      field(7).as("info"),
      field(8).as("format"),
      VcfExpressions.tabTail(col("value"), 9).as("genotypes"))
  }

  /**
   * Parses the FORMAT blob of every genotype column (P11,
   * HrdpVariants.java:292-294,466-475) into
   * `genotypes: array<struct<sample_idx:int, gt:string, ad:array<int>,
   * dp:int>>` where `sample_idx` is 0-based over the header's sample
   * columns, `ad(0)` is the ref depth and `ad(j+1)` the depth of ALT allele
   * j. A non-numeric DP (".") becomes null — the reference's carry-over of
   * the previous sample's depth (:470-475) is an order-dependent quirk we
   * deliberately correct (model.CompatFlags.carryOverDotDepth).
   */
  def withParsedGenotypes(df: DataFrame): DataFrame = {
    val parsed = transform(
      split(col("genotypes"), "\t", -1),
      (g, i) => {
        val parts = split(g, ":")
        // try_* variants, not plain cast/element_at: a "./." blob carries no
        // AD/DP and a "." depth is non-numeric — both must become null, and
        // Spark 4's default ANSI mode makes the plain forms throw instead.
        struct(
          i.cast("int").as("sample_idx"),
          element_at(parts, 1).as("gt"),
          transform(split(try_element_at(parts, lit(2)), ","),
            d => d.try_cast("int")).as("ad"),
          try_element_at(parts, lit(3)).try_cast("int").as("dp"))
      })
    df.withColumn("genotypes", parsed)
  }
}
