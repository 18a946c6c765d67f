package graft.model

/**
 * Core entities of the variant-load engine, mirroring the reference's data
 * model (SURVEY.md §1.1; reference beans live in rgdcore:VariantMapData,
 * rgdcore:VariantSampleDetail, rgdcore:Sample — column lists at
 * DAO.java:70-75,95-98,109-112).
 *
 * The reference keeps `variant` and `variant_map_data` as two Oracle tables
 * sharing one bean; here they are one denormalized case class
 * ([[VariantRecord]]) split at the sinks.
 */

/** `variant` table row (DAO.java:95-98). */
final case class Variant(
    rgdId: Long,
    refNuc: Option[String], // null for insertions (HrdpVariants.java:246)
    varNuc: Option[String], // null for deletions (HrdpVariants.java:217)
    variantType: String,    // snv|snp|mnv|insertion|deletion|delins
    rsId: Option[String],
    clinvarId: Option[String],
    speciesTypeKey: Int)

/** `variant_map_data` table row (DAO.java:109-112). */
final case class VariantPlacement(
    rgdId: Long,
    chromosome: String,
    startPos: Long,
    endPos: Long,
    paddingBase: Option[String],
    genicStatus: String, // GENIC | INTERGENIC
    mapKey: Int)

/** Denormalized variant + placement — the engine's working row. */
final case class VariantRecord(
    rgdId: Long,
    chromosome: String,
    startPos: Long,
    endPos: Long,
    refNuc: Option[String],
    varNuc: Option[String],
    variantType: String,
    paddingBase: Option[String],
    rsId: Option[String],
    clinvarId: Option[String],
    genicStatus: String,
    mapKey: Int,
    speciesTypeKey: Int)

/** `variant_sample_detail` table row (DAO.java:70-75). */
final case class VariantSampleDetail(
    rgdId: Long,
    source: Option[String],
    sampleId: Int,
    totalDepth: Int,
    varFreq: Int,
    zygosityStatus: String,
    zygosityPercentRead: Int,
    zygosityPossError: String, // Y | N
    zygosityRefAllele: Option[String], // never set by the load path (§2.7)
    zygosityNumAllele: Int,            // never set by the load path (§2.7)
    zygosityInPseudo: String,          // Y | N
    qualityScore: Option[Int])

/** Gene interval for the genic-classification join (GeneCache.java:98-108). */
final case class GeneInterval(
    geneRgdId: Int,
    chromosome: String,
    startPos: Long,
    stopPos: Long)

/** Sample dimension row (rgdcore:Sample; defaults HrdpVariants.java:69-82). */
final case class SampleInfo(
    id: Int,
    analysisName: String,
    gender: String, // 'U' for HRDP (HrdpVariants.java:77)
    mapKey: Int)

/**
 * Quirk-compatibility flags (SURVEY.md §4 item 3). Defaults are the
 * *corrected* semantics; enable a flag to reproduce the reference bit-for-bit.
 * One quirk has no flag: the reference keeps the previous sample's depth
 * for a non-numeric DP (".", HrdpVariants.java:470-475), which is order-
 * dependent; the engine always reads it as a missing depth.
 */
final case class CompatFlags(
    /** Reference emits "snp" (not "snv") for single-base substitutions on the
      * multi-allelic copy path (HrdpVariants.java:395) and in GenicQc
      * (GenicQc.java:168). true → replicate the label split. */
    snpLabelOnMultiAllelic: Boolean = false,
    /** Reference overwrites the rounded zygosity percent with Java int
      * division `varFreq / depth` (≈ always 0) at HrdpVariants.java:489-490.
      * true → replicate. */
    intDivisionPercentRead: Boolean = false)

/** Engine configuration replacing the reference's Spring XML
  * (AppConfigure.xml:3-320). */
final case class LoadConfig(
    mapKey: Int,
    speciesTypeKey: Int = 3, // rat, hardcoded (HrdpVariants.java:309)
    /** VCF sample-column name → sample id (AppConfigure.xml:10-159). */
    sampleDict: Map[String, Int] = Map.empty,
    /** Existing max rgd id; new ids are minted above it (W2). */
    rgdIdSeed: Long = 0L,
    compat: CompatFlags = CompatFlags(),
    /** Drop whole record when the first sample's DP == 0 (P8). The
      * reference's gate is dead code (loop bound `i < 9` at
      * HrdpVariants.java:176 never reaches `case 9`) but clearly intended. */
    filterZeroDepth: Boolean = true)

/** Result of a normalization of one (pos, ref, alt) allele pair — P7. */
final case class NormalizedAllele(
    startPos: Long,
    endPos: Long,
    refNuc: Option[String],
    varNuc: Option[String],
    paddingBase: Option[String],
    variantType: String)

/** Zygosity computation output (§2.7, decompiled rgdcore:Zygosity). */
final case class ZygosityResult(
    status: String,
    percentRead: Int,
    possError: String, // Y | N
    inPseudo: String)  // Y | N
