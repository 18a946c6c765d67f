package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType}

/**
 * Catalyst `Column`-expression twins of [[VariantKernel]] — pure
 * `when/otherwise` trees so the whole variant pipeline stays inside
 * whole-stage codegen (no UDF serialization barrier, SURVEY.md §2.9).
 *
 * Property tests (`VariantColumnsSpec`) check these against the pure-Scala
 * kernel on generated inputs.
 */
object VariantColumns {

  /** P3: contig filter predicate (HrdpVariants.java:180-182). */
  def keepContig(chrom: Column): Column =
    !(chrom.contains("unplaced") || chrom.contains("unloc") ||
      chrom.contains("contig") || chrom.contains("scaffold"))

  /** P4: chromosome normalization (HrdpVariants.java:183-185). */
  def normalizeChromosome(chrom: Column): Column = {
    val stripped = regexp_replace(chrom, "chr", "")
    when(upper(stripped) === "M", "MT").otherwise(stripped)
  }

  /** P6: '.' → null (HrdpVariants.java:191-195). */
  def dotToNull(c: Column): Column = when(c === ".", lit(null)).otherwise(c)

  /**
   * P7: allele normalization as a single struct-producing expression tree.
   * Branch order mirrors HrdpVariants.java:205-280 exactly (see
   * [[VariantKernel.normalizeAllele]] for the decision table).
   *
   * @param snvLabel label for the single-base substitution branch — "snv" on
   *                 the reference's single-allele path, "snp" on its
   *                 multi-allelic path (CompatFlags.snpLabelOnMultiAllelic).
   * @return struct(start_pos, end_pos, ref_nuc, var_nuc, padding_base,
   *         variant_type)
   */
  def normalizeAllele(pos: Column, ref: Column, alt: Column): Column =
    normalizeAllele(pos, ref, alt, lit("snv"))

  def normalizeAllele(pos: Column, ref: Column, alt: Column,
      snvLabel: Column): Column = {
    val p      = pos.cast(LongType)
    val refLen = length(ref).cast(LongType)
    val altLen = length(alt).cast(LongType)
    val nullS  = lit(null).cast("string")

    def res(start: Column, end: Column, refNuc: Column, varNuc: Column,
        padding: Column, vt: Column): Column =
      struct(start.as("start_pos"), end.as("end_pos"), refNuc.as("ref_nuc"),
        varNuc.as("var_nuc"), padding.as("padding_base"), vt.as("variant_type"))

    // deletion branches: padded ref suffix after dropping the alt prefix
    val delRef1 = ref.substr(lit(2), refLen)          // drop first base
    val delRefN = ref.substr(altLen + 1, refLen)      // drop alt-length prefix
    // insertion branches: alt suffix after dropping the ref prefix
    val insVar1 = alt.substr(lit(2), altLen)
    val insVarN = alt.substr(refLen + 1, altLen)

    when(alt === "*",
      res(p, p + refLen, ref, nullS, nullS, lit("deletion")))
    .when(refLen > altLen && altLen === 1,
      res(p + 1, p + 1 + length(delRef1), delRef1, nullS, alt, lit("deletion")))
    .when(refLen > altLen && ref.startsWith(alt),
      res(p + altLen, p + altLen + length(delRefN), delRefN, nullS, alt,
        lit("deletion")))
    .when(altLen > refLen && refLen === 1,
      res(p + 1, p + 2, nullS, insVar1, ref, lit("insertion")))
    .when(altLen > refLen && alt.startsWith(ref),
      res(p + refLen, p + refLen + 1, nullS, insVarN, ref, lit("insertion")))
    .when(refLen === altLen && refLen > 1,
      res(p, p + refLen, ref, alt, nullS, lit("mnv")))
    .when(refLen === altLen,
      res(p, p + 1, ref, alt, nullS, snvLabel))
    .when(refLen > altLen,
      res(p, p + refLen, ref, alt, nullS, lit("delins")))
    .otherwise(
      res(p, p + 1, ref, alt, nullS, lit("delins")))
  }

  /**
   * §2.7: zygosity as expressions. Float arithmetic matches the reference:
   * `pct = varFreq * 100f / depth` in Java float math, percent read rounded
   * `(int)(pct + 0.5f)`. PAR branch omitted — it never fires for HRDP data
   * (gender always 'U'; PAR tables are human builds 36/37, SURVEY.md §2.7).
   *
   * @return struct(zygosity_status, zygosity_percent_read,
   *         zygosity_poss_error, zygosity_in_pseudo)
   */
  def zygosity(varFreq: Column, depth: Column, gender: Column,
      chromosome: Column): Column = {
    val pct = when(depth === 0, lit(0f))
      .otherwise(varFreq.cast(FloatType) * lit(100f) / depth.cast(FloatType))
    val percentRead = (pct + lit(0.5f)).cast(IntegerType)
    val diploid = when(pct === 100f, "homozygous")
      .when(pct >= 85f, "possibly homozygous")
      .otherwise("heterozygous")
    val haploid = when(pct === 100f, "hemizygous")
      .when(pct >= 85f, "probably hemizygous")
      .otherwise("possibly hemizygous")
    val male = gender === "M" || gender === "P"
    val sexChrom = chromosome === "X" || chromosome === "Y"
    val status = when(male && sexChrom, haploid).otherwise(diploid)
    val possError = when(pct <= 15f, "Y").otherwise("N")
    struct(
      status.as("zygosity_status"),
      percentRead.as("zygosity_percent_read"),
      possError.as("zygosity_poss_error"),
      lit("N").as("zygosity_in_pseudo"))
  }

  /** J1 overlap predicate (GeneCache.java:72-77). */
  def intervalsOverlap(s: Column, e: Column, gs: Column, ge: Column): Column =
    gs <= e && ge >= s
}
