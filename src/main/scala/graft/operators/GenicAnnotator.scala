package graft.operators

import graft.functions.VariantColumns
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * J1 — the interval-overlap (genic containment) join, the reference's
 * signature operator (GeneCache.java:51-96; probe sites
 * HrdpVariants.java:514-528, GenicQc.java:224-238).
 *
 * The reference builds one sorted in-memory interval list per chromosome and
 * linearly scans it per variant. Spark-first re-expression, two strategies:
 *
 * 1. [[annotateBroadcast]] — broadcast range join. The gene table is small
 *    (~10⁴ intervals per chromosome), so `variants ⋈ broadcast(genes)` on
 *    `chrom equal && range overlap` plans a BroadcastNestedLoopJoin. Fine
 *    for small gene tables, but BNLJ compares every variant against every
 *    gene of every chromosome — O(V·G).
 *
 * 2. [[annotateBinned]] (default) — binning rewrite: explode gene intervals
 *    into fixed-width position bins, join variants on the *equi* key
 *    `(chromosome, bin)`, then apply the exact overlap predicate and
 *    dedup. This turns the range join into a hash join — O(V + G) with a
 *    shuffle, and at 100 TB the per-bin gene lists stay broadcastable since
 *    the exploded gene side is still tiny. This is the scale path and
 *    exactly the equi-join rewrite SURVEY.md §4.1 calls for.
 *
 * Variants spanning multiple bins probe each covered bin; `binsFor` on the
 * variant side uses a `sequence` so multi-bin variants (long deletions)
 * still match. Output: input columns + `genic_status` ('GENIC'/'INTERGENIC',
 * HrdpVariants.java:304-307).
 */
object GenicAnnotator {

  /** Default bin width; rat genes are O(10⁴-10⁵) bp so 100 kb keeps the
    * explode factor of the gene side low (≈ a few bins per gene). */
  val DefaultBinSize: Long = 100000L

  private def statusCol(matched: Column): Column =
    when(matched, "GENIC").otherwise("INTERGENIC")

  /** Strategy 1: broadcast range join (BNLJ). A variant overlapping k genes
    * matches k rows (the reference collects the id list but only tests
    * emptiness, HrdpVariants.java:527) — an existence semi-join reduces back
    * to one row per variant without a shuffle. */
  def annotateBroadcast(variants: DataFrame, genes: DataFrame): DataFrame = {
    val g = genes.select(
      col("chromosome").as("g_chrom"),
      col("start_pos").as("g_start"),
      col("stop_pos").as("g_stop"))
    val overlap = col("chromosome") === col("g_chrom") &&
      VariantColumns.intervalsOverlap(col("start_pos"), col("end_pos"),
        col("g_start"), col("g_stop"))
    val genic = variants.join(broadcast(g), overlap, "left_semi")
      .withColumn("genic_status", lit("GENIC"))
    val intergenic = variants.join(broadcast(g), overlap, "left_anti")
      .withColumn("genic_status", lit("INTERGENIC"))
    genic.unionByName(intergenic)
  }

  /** Strategy 2 (default): binned equi-join, shuffle-hash/broadcast-hash
    * friendly and linear in input size. */
  def annotateBinned(variants: DataFrame, genes: DataFrame,
      binSize: Long = DefaultBinSize): DataFrame = {
    val bin = lit(binSize)
    val g = genes.select(
      col("chromosome").as("g_chrom"),
      col("start_pos").as("g_start"),
      col("stop_pos").as("g_stop"),
      explode(sequence(floor(col("start_pos") / bin),
        floor(col("stop_pos") / bin))).as("g_bin"))

    // One linear plan, NO self-join: tag rows, explode bins, left-join the
    // broadcast gene bins, fold the exploded rows back with a
    // first(struct(*)) aggregate keyed on the tag. The tag is
    // monotonically_increasing_id() — nondeterministic — but it is
    // evaluated exactly once on a single plan branch (it only undoes the
    // explode), so two evaluations can never disagree; the previous
    // join-back-on-id shape evaluated the id independently on both sides
    // of a self-join, which loses rows if an upstream shuffle reorders.
    val cols = variants.columns.toSeq
    val vBinned = variants
      .withColumn("__vid", monotonically_increasing_id())
      .withColumn("__bin",
        explode(sequence(floor(col("start_pos") / bin),
          floor(col("end_pos") / bin))))

    vBinned.join(
      broadcast(g),
      col("chromosome") === col("g_chrom") && col("__bin") === col("g_bin") &&
        VariantColumns.intervalsOverlap(col("start_pos"), col("end_pos"),
          col("g_start"), col("g_stop")),
      "left")
      .groupBy(col("__vid"))
      .agg(first(struct(cols.map(col): _*)).as("__row"),
        max(col("g_start").isNotNull).as("is_genic"))
      .select(col("__row.*") +: Seq(statusCol(col("is_genic")).as("genic_status")): _*)
  }

  /**
   * Strategy 3 (pipeline default): broadcast interval index + binary search —
   * the codegen realization of the reference's commented-out binary
   * search (GeneCache.java:53-67). The gene table is collected on the driver
   * (small by contract: ~tens of thousands of intervals), indexed per
   * chromosome as (starts sorted asc, running max of stops), and probed
   * with one O(log n) lookup per variant through the native
   * [[graft.functions.IntervalExpressions.IntervalOverlaps]] expression:
   *
   *   overlap([s,e]) exists  ⇔  max{ stop(g) : start(g) <= e } >= s
   *
   * ONE narrow pass over the variants, ZERO shuffle, no explode, no UDF
   * barrier (the index rides in the codegen references array) — at 100 TB
   * this is strictly better than any join-based plan while the dimension
   * side fits on the driver.
   */
  /** Gene tables beyond this row count don't get driver-collected — the
    * existence probe routes to [[annotateBinned]] and the enumeration to
    * [[overlappingGenesBinned]] instead. ~2M intervals ≈ tens of MB
    * indexed; real gene dimensions are ≤10⁵. */
  val MaxIndexRows: Long = 2000000L

  /** The gene table's rows, collected in ONE bounded job:
    * `limit(max+1)` stops scanning as soon as the table is known to be
    * too big. None when it has more than `maxIndexRows` rows. */
  private def boundedCollect(genes: DataFrame, maxIndexRows: Long)
      : Option[Array[Row]] = {
    val rows = genes.limit((maxIndexRows + 1).toInt).collect()
    if (rows.length > maxIndexRows) None else Some(rows)
  }

  /** Collected interval tables at or above this size are pruned to the
    * probe side's chromosomes before the index build: at 100× gene counts
    * the one cheap chromosome-column distinct over the probe side pays
    * for itself in index memory and broadcast bytes (a probe restricted
    * to 2 of 20 chromosomes builds a 10× smaller index). Below it the
    * extra probe-side job costs more than the index it would shrink. */
  val PruneIndexRows: Long = 100000L

  /** More distinct probe-side chromosomes than this means the probe is
    * not chromosome-bounded — pruning would keep everything anyway, so
    * skip the filter rather than build a giant isin list. */
  private val MaxProbedChroms = 4096

  /** The chromosomes the probe side contains: one column-pruned
    * distinct over `variants`. None when it spans too many to prune on. */
  private def probedChromosomes(variants: DataFrame): Option[Set[String]] = {
    val chroms = variants.select(col("chromosome")).distinct()
      .limit(MaxProbedChroms + 1).collect().map(_.getString(0))
    if (chroms.length > MaxProbedChroms) None else Some(chroms.toSet)
  }

  /** The build side restricted to chromosomes the probe side actually
    * contains; the unpruned table when the probe spans too many. */
  private[graft] def pruneToProbedChromosomes(variants: DataFrame,
      genes: DataFrame): DataFrame =
    probedChromosomes(variants).fold(genes)(cs =>
      genes.filter(col("chromosome").isin(cs.toSeq: _*)))

  /** Collected gene rows (column 0 = chromosome) restricted to the probed
    * chromosomes once they are many enough for that to pay. */
  private def maybePrune(variants: DataFrame, rows: Array[Row]): Array[Row] =
    if (rows.length < PruneIndexRows) rows
    else probedChromosomes(variants).fold(rows)(cs =>
      rows.filter(r => cs.contains(r.getString(0))))

  def annotateIndexed(variants: DataFrame, genes: DataFrame,
      maxIndexRows: Long = MaxIndexRows): DataFrame =
    boundedCollect(genes.select("chromosome", "start_pos", "stop_pos"),
        maxIndexRows) match {
      case None => annotateBinned(variants, genes)
      case Some(rows) =>
        val index = graft.functions.IntervalExpressions.IntervalIndex.build(
          maybePrune(variants, rows)
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
        variants.withColumn("genic_status",
          statusCol(graft.functions.IntervalExpressions.intervalOverlaps(
            col("chromosome"), col("start_pos"), col("end_pos"), index)))
    }

  /** Returns matching gene ids per variant — the reference's
    * `getGeneRgdIds` surface (GeneCache.java:51), exposed for the query
    * API; one output row per (variant, overlapping gene). Planned by the
    * custom [[graft.plans.IntervalJoin]] operator (broadcast interval
    * index, O(log g + hits) per row) instead of the BroadcastNestedLoop
    * join Spark would pick for the range predicate; its build side is the
    * already-collected gene rows, as a local relation. */
  def overlappingGenes(variants: DataFrame, genes: DataFrame,
      maxIndexRows: Long = MaxIndexRows): DataFrame = {
    val g = genes.select(
      col("chromosome").as("g_chrom"),
      col("start_pos").as("g_start"),
      col("stop_pos").as("g_stop"),
      col("gene_rgd_id"))
    boundedCollect(g, maxIndexRows) match {
      case None =>
        overlappingGenesBinned(variants, genes).drop("g_chrom", "g_start", "g_stop")
      case Some(rows) =>
        val spark = variants.sparkSession
        val local = spark.createDataFrame(
          java.util.Arrays.asList(maybePrune(variants, rows): _*), g.schema)
        graft.plans.IntervalJoin.join(spark, variants,
          local.select("gene_rgd_id", "g_chrom", "g_start", "g_stop"))
          .drop("g_chrom", "g_start", "g_stop")
    }
  }

  /** Enumeration form of the binned rewrite — one row per overlapping
    * (variant, gene) pair with NO dedup pass: a pair overlapping k bins
    * is emitted only from the canonical bin `floor(max(start_pos,
    * g_start) / binSize)` (the first bin both intervals occupy), so each
    * pair appears exactly once. This is the shuffle-join fallback for
    * gene tables too large to driver-index; both sides stream, no
    * collect, no row-id bookkeeping. */
  def overlappingGenesBinned(variants: DataFrame, genes: DataFrame,
      binSize: Long = DefaultBinSize): DataFrame = {
    val bin = lit(binSize)
    val g = genes.select(
      col("gene_rgd_id"),
      col("chromosome").as("g_chrom"),
      col("start_pos").as("g_start"),
      col("stop_pos").as("g_stop"))
      .withColumn("g_bin", explode(sequence(floor(col("g_start") / bin),
        floor(col("g_stop") / bin))))
    val vBinned = variants.withColumn("__bin",
      explode(sequence(floor(col("start_pos") / bin),
        floor(col("end_pos") / bin))))
    vBinned.join(g,
      col("chromosome") === col("g_chrom") && col("__bin") === col("g_bin") &&
        VariantColumns.intervalsOverlap(col("start_pos"), col("end_pos"),
          col("g_start"), col("g_stop")) &&
        col("__bin") === floor(greatest(col("start_pos"), col("g_start")) / bin),
      "inner")
      .drop("__bin", "g_bin")
  }
}
