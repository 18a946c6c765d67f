package graft.operators

import graft.functions.{VariantColumns, VcfExpressions}
import graft.model.LoadConfig
import graft.sources.VcfSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The `--runLoad` pipeline (SURVEY.md §3 E1, HrdpVariants.java:33-134)
 * re-expressed as one declarative Spark plan. Where the reference makes ≥3
 * blocking JDBC round trips per VCF record (locus lookup, per-sample
 * existence count, per-novel-variant ID mint — BASELINE.md), this plan
 * makes zero: the existing store is read once as a snapshot and every
 * per-record probe becomes a set-level join.
 *
 * Stages (operator ids refer to SURVEY.md §2):
 *   S1-S3 source → P1-P6 normalize record → P8 zero-depth gate →
 *   §2.8 multi-allelic explode → P7 allele normalization → J1 genic
 *   classification → J4 dedup vs snapshot (null-safe keys) → W2 id mint →
 *   J7 sample melt → P9-P11 genotype filters → §2.7 zygosity → J6 detail
 *   anti-join.
 *
 * Scale design (100 TB): the only shuffles are the J4 dedup join (keyed on
 * (chromosome, start_pos, ref, var) — co-partitionable with the snapshot)
 * and the W2 per-chromosome id assignment. The gene dimension broadcasts.
 * ID minting is deterministic WITHOUT a global single-partition sort:
 * row_number is computed per chromosome partition and offset by a
 * driver-side prefix sum over the tiny per-chromosome count map.
 */
object VariantLoader {

  /** Column set of the denormalized variant output (variant ⋈
    * variant_map_data, SURVEY.md §1.1). */
  val variantCols: Seq[String] = Seq(
    "rgd_id", "chromosome", "start_pos", "end_pos", "ref_nuc", "var_nuc",
    "variant_type", "padding_base", "rs_id", "genic_status", "map_key",
    "species_type_key")

  final case class LoadResult(
      /** all variants of this load (existing + new), denormalized */
      variants: DataFrame,
      /** only the novel ones (what the reference batch-inserts, K2-K4) */
      newVariants: DataFrame,
      /** per-sample observations to insert (K1, after the J6 anti-join) */
      sampleDetails: DataFrame,
      /** rgd_id + changed end_pos (K5 drift updates, A5) */
      endPosUpdates: DataFrame,
      /** intermediates persisted by load(); call when done consuming */
      private val persisted: Seq[DataFrame] = Nil) {
    def unpersist(): Unit = persisted.foreach(_.unpersist())
  }

  /**
   * Parse + normalize a VCF into one allele-level DataFrame:
   * `(chromosome, start_pos, end_pos, ref_nuc, var_nuc, variant_type,
   * padding_base, rs_id, allele_idx, genotypes)`.
   */
  def normalizedAlleles(spark: SparkSession, vcfPath: String,
      config: LoadConfig): DataFrame =
    normalizedAllelesFromRecords(spark, VcfSource.records(spark, vcfPath),
      config)

  /** [[normalizedAlleles]] over a pre-built records DataFrame (streaming
    * micro-batches, tests). */
  def normalizedAllelesFromRecords(spark: SparkSession, raw: DataFrame,
      config: LoadConfig): DataFrame = {
    // genotypes stay ONE raw string here: the melt walks it once per
    // allele after the dedup. Both filters below are pushed onto the raw
    // line by Catalyst; the field kernels make them read only the chrom
    // field and the first sample blob.
    val kept = raw
      .filter(VariantColumns.keepContig(col("chrom")))
      .withColumn("chromosome", VariantColumns.normalizeChromosome(col("chrom")))
    // P8: the reference drops the whole record when the FIRST sample's DP
    // is 0 (HrdpVariants.java:289-301); a sites-only record (no sample
    // column, null genotypes) passes
    val gated =
      if (config.filterZeroDepth)
        kept.filter(coalesce(VcfExpressions.firstSampleDepth(col("genotypes")),
          lit(-1)) =!= 0)
      else kept
    val alleles = gated.select(
      col("chromosome"), col("pos"), col("rs_id"), col("ref"), col("genotypes"),
      size(split(col("alt"), ",")).as("n_alleles"),
      posexplode(split(col("alt"), ",")).as(Seq("allele_idx", "allele")))
    // §2.8 + P7: the reference labels single-base substitutions "snv" on
    // its single-allele path but "snp" on the multi-allelic copy path
    // (HrdpVariants.java:267 vs :395)
    val snvLabel =
      if (config.compat.snpLabelOnMultiAllelic)
        when(col("n_alleles") > 1, "snp").otherwise("snv")
      else lit("snv")
    alleles
      .withColumn("n", VariantColumns.normalizeAllele(
        col("pos"), col("ref"), col("allele"), snvLabel))
      .select(col("chromosome"), col("rs_id"), col("allele_idx"),
        col("n.start_pos"), col("n.end_pos"), col("n.ref_nuc"),
        col("n.var_nuc"), col("n.padding_base"), col("n.variant_type"),
        col("genotypes"))
  }

  /**
   * W2: deterministic distributed id minting, ONE id per distinct key:
   * `rgd_id = seed + offset(chromosome) + dense_rank within chromosome`,
   * where the offsets are a driver-side prefix sum over per-chromosome
   * distinct-key counts (~25 rows). Rows whose `keyExprs` tie share the
   * minted id, and the first row in (key, tieBreak) order is flagged
   * `__key_first` for first-wins insert semantics. This is the
   * intra-batch dedup the reference gets for free from per-record locus
   * lookups — each line's lookup sees prior lines' inserts
   * (HrdpVariants.java:310-465) — re-expressed set-level.
   *
   * Scale design: no global sort, no single-partition window — survives
   * any scale at which a per-chromosome sort fits a task, and
   * chromosomes can be salted further if one dominates. Both windows
   * share one hash exchange on chromosome (same partitioning, two sort
   * specs).
   */
  def mintIdsDense(df: DataFrame, seed: Long, keyExprs: Seq[Column],
      tieBreak: Seq[Column]): DataFrame =
    mintIdsDense(df, seed, df.groupBy("chromosome")
      .agg(countDistinct(struct(keyExprs: _*)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq, keyExprs, tieBreak)

  /** [[mintIdsDense]] with the per-chromosome distinct-key counts already
    * known (the load computes them in the job that also finds key
    * duplicates). */
  private def mintIdsDense(df: DataFrame, seed: Long,
      chromCounts: Seq[(String, Long)], keyExprs: Seq[Column],
      tieBreak: Seq[Column]): DataFrame = {
    val counts = chromCounts.sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L) { case (acc, (_, n)) => acc + n })
    val offsetCol = offsets.foldLeft(lit(0L)) { case (acc, (c, off)) =>
      when(col("chromosome") === c, lit(off)).otherwise(acc)
    }
    val wKey = Window.partitionBy("chromosome")
      .orderBy(keyExprs: _*)
    val wFull = Window.partitionBy("chromosome")
      .orderBy(keyExprs ++ tieBreak: _*)
    val keyStruct = struct(keyExprs: _*)
    df.withColumn("rgd_id", lit(seed) + offsetCol + dense_rank().over(wKey))
      .withColumn("__key_first",
        !(keyStruct <=> lag(keyStruct, 1).over(wFull)))
  }

  /**
   * Full E1 load against a snapshot of the existing store.
   *
   * @param existing snapshot of `variant ⋈ variant_map_data` with columns
   *                 [[variantCols]] (empty DataFrame for a fresh store)
   * @param existingDetails snapshot of `(rgd_id, sample_id)` pairs already
   *                 in `variant_sample_detail` (J6 anti-join side)
   * @param genes    gene intervals `(gene_rgd_id, chromosome, start_pos,
   *                 stop_pos)` — broadcast dimension (J1)
   */
  def load(spark: SparkSession, vcfPath: String, genes: DataFrame,
      existing: DataFrame, existingDetails: DataFrame,
      config: LoadConfig): LoadResult = {
    loadFromAlleles(spark, normalizedAlleles(spark, vcfPath, config), genes,
      existing, existingDetails, config,
      sampleIds(config.sampleDict, VcfSource.headerSamples(spark, vcfPath)))
  }

  /** S3/J8: header column index → configured sample id. `None` without a
    * dictionary: the melt then keeps the column index as the sample id.
    * With one, only the columns it names (possibly none) are kept, as the
    * reference skips unknown sample columns. The header is read only when
    * there is a dictionary. */
  def sampleIds(dict: Map[String, Int], header: => Seq[String])
      : Option[Map[Int, Int]] =
    if (dict.isEmpty) None
    else Some(header.zipWithIndex.flatMap {
      case (name, idx) => dict.get(name).map(idx -> _)
    }.toMap)

  /** J4: dedup against the snapshot — null-safe on the nucleotide pair
    * (Utils.stringsAreEqual treats null as "", HrdpVariants.java:412,438);
    * equi on (chromosome, start_pos) mirrors the locus lookup J2. Left
    * join: the `db_*` columns are null for novel alleles.
    *
    * (chromosome, start_pos) are the ONLY join keys — exactly the store's
    * bucket keys — so the bucketed store arrives partitioned and only the
    * batch shuffles. The nucleotide match is a residual condition written
    * as `≤` and `≥` on the coalesced strings (byte equality): as `=` or
    * `<=>` Catalyst would make it two more join keys, and Spark re-shuffles
    * a side bucketed on only some of the keys
    * (`spark.sql.requireAllClusterKeysForCoPartition`). */
  private[graft] def matchStore(alleles: DataFrame, existing: DataFrame): DataFrame = {
    val db = existing.select(
      col("rgd_id").as("db_rgd_id"),
      col("chromosome").as("db_chrom"),
      col("start_pos").as("db_start"),
      col("end_pos").as("db_end"),
      col("ref_nuc").as("db_ref"),
      col("var_nuc").as("db_var"))
    def same(a: String, b: String): Column = {
      val (x, y) = (coalesce(col(a), lit("")), coalesce(col(b), lit("")))
      x <= y && x >= y
    }
    alleles.join(db,
      col("chromosome") === col("db_chrom") && col("start_pos") === col("db_start") &&
        same("ref_nuc", "db_ref") && same("var_nuc", "db_var"),
      "left")
  }

  /** [[load]] starting from a normalized-allele DataFrame — the entry
    * point for streaming micro-batches and pre-parsed inputs. */
  def loadFromAlleles(spark: SparkSession, alleles: DataFrame,
      genes: DataFrame, existing: DataFrame, existingDetails: DataFrame,
      config: LoadConfig, sampleIdByIdx: Option[Map[Int, Int]] = None)
      : LoadResult = {

    // J1: genic classification via the broadcast interval index.
    // Persisted: every consumer below (dedup split, id mint count, detail
    // melt, and the caller's count/write actions) would otherwise re-run
    // the full parse+normalize pipeline — measured 5× re-execution.
    val classified = GenicAnnotator.annotateIndexed(alleles, genes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val joined = matchStore(classified, existing)

    val existingMatched = joined.filter(col("db_rgd_id").isNotNull)
    val novel = joined.filter(col("db_rgd_id").isNull)

    // ONE eager job over the batch before any sink. Per null-safe variant
    // key: its row count, and whether it is novel (a key matches the
    // store for all of its rows or for none). Per chromosome: the novel
    // distinct keys (the mint's offsets) and the largest key count.
    //
    // Duplicate details can ONLY arise when the batch itself contains
    // same-key duplicate records (novel dups share a minted id; existing
    // dups matched the same store row), so the (rgd_id, sample_id) dedup
    // window over the ~10^7-row melt is paid only when some key count
    // exceeds 1 — measured 19 s of a 64 s full load when applied
    // unconditionally.
    val perChrom = joined
      .groupBy(col("chromosome"), col("start_pos"),
        coalesce(col("ref_nuc"), lit("")).as("r"),
        coalesce(col("var_nuc"), lit("")).as("v"))
      .agg(count(lit(1)).as("rows"), max(col("db_rgd_id").isNull).as("novel"))
      .groupBy("chromosome")
      .agg(count(when(col("novel"), lit(1))).as("novel_keys"),
        max("rows").as("max_rows"))
      .collect().toSeq
    val hasKeyDups = perChrom.exists(_.getLong(2) > 1)
    val novelKeys = perChrom.collect {
      case r if r.getLong(1) > 0 => r.getString(0) -> r.getLong(1)
    }

    // W2 + intra-batch dedup: the J4 join only sees the PRIOR store, so
    // two records in one batch normalizing to the same null-safe variant
    // key would both look novel. Dense minting gives key-duplicates ONE
    // shared id; only the first row (deterministic order) becomes an
    // insert row, but every occurrence still flows to the detail melt —
    // mirroring the reference, where a duplicate line hits the existing
    // path via its locus lookup yet still contributes sample details
    // (HrdpVariants.java:310-465). Divergence (documented): a duplicate
    // line whose end_pos drifts from the first does NOT emit a K5 update
    // within the same batch.
    val minted = mintIdsDense(novel.drop("db_rgd_id", "db_chrom", "db_start",
      "db_end", "db_ref", "db_var"),
      config.rgdIdSeed, novelKeys,
      keyExprs = Seq(col("start_pos"),
        coalesce(col("ref_nuc"), lit("")), coalesce(col("var_nuc"), lit(""))),
      // total order over every column the insert row emits: when
      // end_pos/allele_idx/rs_id all tie, the exact (non-coalesced)
      // nucleotides, derived typing, and genotype blob settle first-wins
      // deterministically instead of partition arrival order
      tieBreak = Seq(col("end_pos"), col("allele_idx"), col("rs_id"),
        col("ref_nuc"), col("var_nuc"), col("variant_type"),
        col("padding_base"), col("genic_status"), col("genotypes")))

    // `__insert` marks the insert rows: the first occurrence of each
    // novel key (K2-K4 first-wins), never a matched store row
    def finalize(df: DataFrame, insert: Column): DataFrame = df.select(
      col("rgd_id"), col("chromosome"), col("start_pos"), col("end_pos"),
      col("ref_nuc"), col("var_nuc"), col("variant_type"), col("padding_base"),
      col("rs_id"), col("genic_status"),
      lit(config.mapKey).as("map_key"),
      lit(config.speciesTypeKey).as("species_type_key"),
      col("allele_idx"), col("genotypes"), insert.as("__insert"))

    val keptExisting = finalize(
      existingMatched.withColumn("rgd_id", col("db_rgd_id"))
        .drop("db_rgd_id", "db_chrom", "db_start", "db_end", "db_ref", "db_var"),
      lit(false))
    // The J4 join and both mint windows run ONCE: the batch is persisted
    // for the caller's counts, the two sinks, and the detail melt. ALL
    // novel occurrences (including key-duplicates sharing a minted id)
    // participate in the melt; only `__insert` rows are appended.
    val all = keptExisting.unionByName(finalize(minted, col("__key_first")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newVariants = all.filter(col("__insert"))

    // A5/K5: end-position drift on already-loaded variants
    // (HrdpVariants.java:416-419,444-447: dbVar.endPos != endPos && endPos != 0)
    val endPosUpdates = existingMatched
      .filter(col("db_end") =!= col("end_pos") && col("end_pos") =!= 0)
      .select(col("db_rgd_id").as("rgd_id"), col("end_pos"))

    // J7 + P9-P11 + §2.7: melt samples, align allele j with AD[j+1],
    // compute zygosity, then J6 anti-join against already-present details
    val details = sampleDetails(all, existingDetails, config, sampleIdByIdx,
      intraBatchDedup = hasKeyDups)

    LoadResult(all.drop("allele_idx", "genotypes", "__insert"),
      newVariants.drop("allele_idx", "genotypes", "__insert"), details, endPosUpdates,
      persisted = Seq(classified, all))
  }

  /** The per-sample observation path (HrdpVariants.java:462-495).
    * `sampleIdByIdx`: 0-based header column index → configured sample id
    * ([[sampleIds]]; `None` keeps the column index, and columns absent
    * from a given map are dropped).
    * `intraBatchDedup`: apply the (rgd_id, sample_id) first-wins window —
    * required only when the batch contains same-key duplicate records
    * ([[loadFromAlleles]] detects that and passes it accordingly). */
  def sampleDetails(variants: DataFrame, existingDetails: DataFrame,
      config: LoadConfig, sampleIdByIdx: Option[Map[Int, Int]] = None,
      intraBatchDedup: Boolean = true): DataFrame = {
    // J7 melt + P9-P11 + §2.7 as one native expression over the raw
    // blobs: each blob is walked once, hom-ref/no-call genotypes allocate
    // nothing, and only kept observations reach `inline`
    val candidate = variants.select(col("rgd_id"),
      inline(VcfExpressions.meltGenotypes(col("genotypes"), col("allele_idx"),
        sampleIdByIdx, config.compat.intDivisionPercentRead)))

    // J6: only details not already present (DAO.java:64-66 count==0 gate).
    // Runs BEFORE the intra-batch window: if a (rgd_id, sample_id) key is
    // already in the store, EVERY candidate row with that key is dropped —
    // so which of them the window would have picked is irrelevant — and
    // if it isn't, the anti-join keeps all of them for the window.
    // Identical output, but the window's input shrinks from the whole
    // melt to the novel rows only (ZERO on an idempotent reload, where
    // the window's 12-20 s sort was pure waste).
    val afterStore = candidate.join(
      existingDetails.select(col("rgd_id").as("d_rgd_id"),
        col("sample_id").as("d_sample_id")),
      col("rgd_id") === col("d_rgd_id") &&
        col("sample_id") === col("d_sample_id"),
      "left_anti")

    // Intra-batch first-wins on (rgd_id, sample_id): duplicate variant
    // records in one batch share a minted id and would melt to duplicate
    // detail rows; the reference's per-record count==0 gate sees prior
    // lines' inserts (DAO.java:64-66), so keep exactly one —
    // deterministically, via a total order over EVERY emitted column
    // (var_freq desc, total_depth desc, zygosity fields asc). A
    // row_number window, NOT a min(struct(...)) aggregate: min over a
    // non-primitive type forces ObjectHashAggregate, whose per-key
    // object buffers measured 127 s of GC thrash at 8.1M near-unique
    // keys (and 30-60 s with the sort-based fallback) against ~12 s for
    // the UnsafeRow window sort. The anti-join hash-partitioned on
    // (rgd_id, sample_id) already, so the window reuses that exchange.
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

    // Full 12-column parity with the reference insert (DAO.java:70-75):
    // source / zygosity_ref_allele / zygosity_num_allele / quality_score
    // are stored physically with the reference's unset-bean defaults
    // (null / null / 0 / null — verified by grep: the loader never sets
    // them), so a sibling pipeline reading the store sees the same
    // columns it would read from variant_sample_detail. Added AFTER the
    // dedup/anti-join so the constants never ride the shuffles.
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
