package graft

import graft.functions.VariantColumns
import graft.model.LoadConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The built-in chains the native VCF kernels replaced, kept as the
 * reference `VcfKernelsSpec` pins the kernels to: the `split`-based line
 * parse with its depth gate, and the `posexplode` → `split` → `try_cast`
 * sample melt. Here `genotypes` is the split sample cells,
 * `array<string>`.
 */
object LegacyVcfChains {

  /** S3: one `split(value, "\t", -1)` per line, cells by `element_at`. */
  def records(raw: DataFrame): DataFrame = {
    val cells = split(col("value"), "\t", -1)
    raw
      .filter(!col("value").startsWith("#"))
      .select(
        element_at(cells, 1).as("chrom"),
        element_at(cells, 2).cast("long").as("pos"),
        when(element_at(cells, 3) === ".", lit(null).cast("string"))
          .otherwise(element_at(cells, 3)).as("rs_id"),
        element_at(cells, 4).as("ref"),
        element_at(cells, 5).as("alt"),
        element_at(cells, 6).as("qual"),
        element_at(cells, 7).as("filter"),
        element_at(cells, 8).as("info"),
        element_at(cells, 9).as("format"),
        slice(cells, lit(10), greatest(size(cells) - 9, lit(0))).as("genotypes"))
  }

  /** P3 contig filter, P4 normalization and the P8 first-sample depth
    * gate over split sample cells. */
  def gated(records: DataFrame, config: LoadConfig): DataFrame = {
    val kept = records
      .filter(VariantColumns.keepContig(col("chrom")))
      .withColumn("chromosome", VariantColumns.normalizeChromosome(col("chrom")))
    if (config.filterZeroDepth)
      kept.filter(coalesce(
        try_element_at(split(try_element_at(col("genotypes"), lit(1)), ":"),
          lit(3)).try_cast("int"),
        lit(-1)) =!= 0)
    else kept
  }

  /** J7 + P9-P11 + §2.7 + J6 over `(rgd_id, chromosome, allele_idx,
    * genotypes: array<string>)`, with the 12 detail columns. */
  def sampleDetails(variants: DataFrame, existingDetails: DataFrame,
      config: LoadConfig, sampleIdByIdx: Map[Int, Int],
      intraBatchDedup: Boolean): DataFrame = {
    val sampleIdCol =
      if (sampleIdByIdx.isEmpty) col("g_sample_idx")
      else map(sampleIdByIdx.toSeq.flatMap { case (idx, id) =>
        Seq(lit(idx), lit(id))
      }: _*).getItem(col("g_sample_idx"))

    val melted = variants
      .select(col("rgd_id"), col("chromosome"), col("start_pos"),
        col("allele_idx"),
        posexplode(col("genotypes")).as(Seq("g_sample_idx", "g_raw")))
      .withColumn("g_parts", split(col("g_raw"), ":"))
      .withColumn("g_gt", element_at(col("g_parts"), 1))
      .filter(!coalesce(col("g_gt"), lit("")).isin("0/0", "./."))
      .withColumn("var_freq",
        try_element_at(split(try_element_at(col("g_parts"), lit(2)), ","),
          col("allele_idx") + 2).try_cast("int"))
      .filter(col("var_freq").isNotNull && col("var_freq") =!= 0)
      .withColumn("total_depth", coalesce(
        try_element_at(col("g_parts"), lit(3)).try_cast("int"), lit(0)))
      .withColumn("z", VariantColumns.zygosity(col("var_freq"),
        col("total_depth"), lit("U"), col("chromosome")))
      .withColumn("sample_id", sampleIdCol)
      .filter(col("sample_id").isNotNull)

    val percentRead =
      if (config.compat.intDivisionPercentRead)
        when(col("total_depth") =!= 0,
          (col("var_freq") / col("total_depth")).cast("int")).otherwise(lit(0))
      else col("z.zygosity_percent_read")

    val candidate = melted.select(
      col("rgd_id"),
      col("sample_id").cast("int").as("sample_id"),
      col("total_depth"),
      col("var_freq"),
      col("z.zygosity_status").as("zygosity_status"),
      percentRead.as("zygosity_percent_read"),
      col("z.zygosity_poss_error").as("zygosity_poss_error"),
      col("z.zygosity_in_pseudo").as("zygosity_in_pseudo"))

    val afterStore = candidate.join(
      existingDetails.select(col("rgd_id").as("d_rgd_id"),
        col("sample_id").as("d_sample_id")),
      col("rgd_id") === col("d_rgd_id") &&
        col("sample_id") === col("d_sample_id"),
      "left_anti")

    val novel =
      if (!intraBatchDedup) afterStore
      else {
        val wFirst = Window.partitionBy("rgd_id", "sample_id")
          .orderBy(col("var_freq").desc, col("total_depth").desc,
            col("zygosity_status"), col("zygosity_percent_read"),
            col("zygosity_poss_error"), col("zygosity_in_pseudo"))
        afterStore
          .withColumn("__rn", row_number().over(wFirst))
          .filter(col("__rn") === 1).drop("__rn")
      }

    novel.select(
      col("rgd_id"),
      lit(null).cast("string").as("source"),
      col("sample_id"),
      col("total_depth"),
      col("var_freq"),
      col("zygosity_status"),
      col("zygosity_percent_read"),
      col("zygosity_poss_error"),
      lit(null).cast("string").as("zygosity_ref_allele"),
      lit(0).as("zygosity_num_allele"),
      col("zygosity_in_pseudo"),
      lit(null).cast("int").as("quality_score"))
  }
}
