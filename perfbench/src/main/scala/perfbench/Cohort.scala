package perfbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable
import scala.util.chaining._

/** Per-record and per-genotype rates of the generated cohort: every VCF
  * case the loader must handle, at fixed shares (see config.json). */
final case class CohortRates(
    multiAllelic: Double, star: Double, multiRef: Double,
    insertion: Double, deletion: Double, mnv: Double, delins: Double,
    chrM: Double, scaffold: Double, firstSampleDp0: Double,
    duplicate: Double, homRef: Double, noCall: Double, dpDot: Double,
    alleleDepthZero: Double)

/** Counts the checks compare the program's outputs against. Variant and
  * detail counts come from an independent model of the reference
  * semantics; genic flips from a brute-force overlap scan. */
final case class CohortExpect(
    records: Long, keptRecords: Long, droppedContig: Long,
    droppedDp0: Long, alleles: Long, variants: Long, details: Long,
    deltaRecords: Long, deltaNovelVariants: Long, deltaNovelDetails: Long,
    flips: Long, genicAfterQc: Long) {
  def asMap: Seq[(String, Long)] = Seq(
    "records" -> records, "kept_records" -> keptRecords,
    "dropped_contig" -> droppedContig, "dropped_first_dp0" -> droppedDp0,
    "alleles" -> alleles, "variants" -> variants, "details" -> details,
    "delta_records" -> deltaRecords,
    "delta_novel_variants" -> deltaNovelVariants,
    "delta_novel_details" -> deltaNovelDetails,
    "qc_flips" -> flips, "genic_after_qc" -> genicAfterQc)
}

/** Paths of one generated cohort. */
final case class CohortFiles(dir: String, cohortDir: String,
    deltaPath: String, genesPath: String, revisedGenesPath: String,
    sampleDict: Map[String, Int], expect: CohortExpect) {
  def vcfBytes: Long =
    new File(cohortDir).listFiles().filter(_.isFile).map(_.length).sum
}

/**
 * Seeded cohort generator: a multi-sample VCF in gzip chunks, a delta
 * file of novel loci plus re-delivered cohort records, a gene table and a
 * revised gene table. One header column is left out of the sample
 * dictionary, as the loader must skip unknown columns.
 */
object Cohort {
  private final case class Gene(chrom: String, start: Long, stop: Long)
  private final case class Rec(chrom: String, pos: Long, id: String,
      ref: String, alts: Seq[String], blobs: Array[String]) {
    def line: String =
      (Seq(chrom, pos.toString, id, ref, alts.mkString(","), "50", "PASS",
        ".", "GT:AD:DP:GQ") ++ blobs).mkString("\t")
  }

  private val Chroms = (1 to 10).map(i => s"chr$i") :+ "chrX"
  private val Bases = "ACGT"

  /** The loader's chromosome normalization (`chr` stripped, M → MT). */
  private def normChrom(c: String): String = {
    val s = c.replace("chr", "")
    if (s.equalsIgnoreCase("M")) "MT" else s
  }

  private def keepContig(c: String): Boolean =
    !Seq("unplaced", "unloc", "contig", "scaffold").exists(c.contains)

  /** Allele normalization, re-derived from the reference's decision
    * table: (start, end, ref_nuc or "", var_nuc or ""). */
  private def normalize(p: Long, ref: String, alt: String)
      : (Long, Long, String, String) = {
    val (rl, al) = (ref.length, alt.length)
    if (alt == "*") (p, p + rl, ref, "")
    else if (rl > al && al == 1) {
      val d = ref.substring(1); (p + 1, p + 1 + d.length, d, "")
    } else if (rl > al && ref.startsWith(alt)) {
      val d = ref.substring(al); (p + al, p + al + d.length, d, "")
    } else if (al > rl && rl == 1) (p + 1, p + 2, "", alt.substring(1))
    else if (al > rl && alt.startsWith(ref))
      (p + rl, p + rl + 1, "", alt.substring(rl))
    else if (rl == al && rl > 1) (p, p + rl, ref, alt)
    else if (rl == al) (p, p + 1, ref, alt)
    else if (rl > al) (p, p + rl, ref, alt)
    else (p, p + 1, ref, alt)
  }

  /** `unknown`: index of the header column left out of the dictionary. */
  def generate(dir: String, seed: Long, records: Int, chunks: Int,
      samples: Int, unknown: Int, novelFrac: Double, redeliverFrac: Double,
      rates: CohortRates): CohortFiles = {
    val rnd = new SplittableRandom(seed)
    def base(): Char = Bases.charAt(rnd.nextInt(4))
    def otherBase(b: Char): Char = {
      var c = base(); while (c == b) c = base(); c
    }
    def seq(n: Int): String = Iterator.fill(n)(base()).mkString
    def chance(p: Double): Boolean = rnd.nextDouble() < p

    val names = (1 to samples).map(i => f"HRDP_$i%03d")
    val dict = names.zipWithIndex.collect {
      case (n, i) if i != unknown => n -> (1000 + i)
    }.toMap

    def blobs(nAlts: Int, firstDp0: Boolean): Array[String] =
      Array.tabulate(samples) { s =>
        val u = rnd.nextDouble()
        val refDepth = 1 + rnd.nextInt(30)
        if (s == 0 && firstDp0) s"0/1:$refDepth,${1 + rnd.nextInt(9)}:0:99"
        else if (u < rates.homRef)
          s"0/0:$refDepth${",0" * nAlts}:$refDepth:99"
        else if (u < rates.homRef + rates.noCall)
          if (chance(0.5)) "./." else "./.:.:.:."
        else {
          val depths = Seq.fill(nAlts)(
            if (chance(rates.alleleDepthZero)) 0 else 1 + rnd.nextInt(40))
          val gt =
            if (nAlts > 1 && chance(0.3)) "1/2"
            else if (chance(0.3)) "1/1" else "0/1"
          val dp =
            if (chance(rates.dpDot)) "." else (refDepth + depths.sum).toString
          s"$gt:${(refDepth +: depths).mkString(",")}:$dp:${rnd.nextInt(100)}"
        }
      }

    def record(chrom: String, pos: Long): Rec = {
      val u = rnd.nextDouble()
      val r = rates
      var acc = 0.0
      def next(p: Double): Boolean = { acc += p; u < acc }
      val b = base()
      val (ref, alts) =
        if (next(r.multiAllelic)) {
          val a = otherBase(b); (b.toString, Seq(a.toString, otherBase(a).toString))
        } else if (next(r.star)) (b.toString, Seq(otherBase(b).toString, "*"))
        else if (next(r.multiRef)) (s"$b,$b${base()}", Seq(otherBase(b).toString))
        else if (next(r.insertion)) (b.toString, Seq(s"$b${seq(1 + rnd.nextInt(3))}"))
        else if (next(r.deletion)) (s"$b${seq(1 + rnd.nextInt(3))}", Seq(b.toString))
        else if (next(r.mnv)) {
          val c = base(); (s"$b$c", Seq(s"${otherBase(b)}${otherBase(c)}"))
        } else if (next(r.delins)) (s"$b${seq(2)}", Seq(seq(2)))
        else (b.toString, Seq(otherBase(b).toString))
      val id = if (chance(0.3)) s"rs${rnd.nextInt(1 << 30)}" else "."
      Rec(chrom, pos, id, ref, alts, blobs(alts.size, chance(r.firstSampleDp0)))
    }

    // loci: one record per position, positions far enough apart that no
    // two records' normalized variants share a start
    val nNovel = math.round(records * novelFrac).toInt
    val nextPos = mutable.Map.empty[String, Long].withDefaultValue(1000L)
    val all = Array.fill(records + nNovel) {
      val u = rnd.nextDouble()
      val chrom =
        if (u < rates.scaffold)
          if (chance(0.5)) s"chr${1 + rnd.nextInt(10)}_scaffold_${rnd.nextInt(50)}"
          else s"chrUn_unplaced_${rnd.nextInt(50)}"
        else if (u < rates.scaffold + rates.chrM) "chrM"
        else Chroms(rnd.nextInt(Chroms.size))
      val pos = nextPos(chrom) + 20 + rnd.nextInt(400)
      nextPos(chrom) = pos
      record(chrom, pos)
    }
    val novelIdx = {
      val idx = all.indices.toArray
      for (i <- idx.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t
      }
      idx.take(nNovel).toSet
    }
    val cohort = all.indices.filterNot(novelIdx).map(all)
    val novel = all.indices.filter(novelIdx).map(all)
    // in-file duplicates: exact copies of cohort lines, in any chunk
    val dups = cohort.filter(_ => chance(rates.duplicate))
    val shuffle = rnd.split()
    val lines = (cohort ++ dups).map(_.line).toArray
    for (i <- lines.length - 1 to 1 by -1) {
      val j = shuffle.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(j); lines(j) = t
    }
    val redelivered = cohort.filter(_ => chance(redeliverFrac))

    // genes over every kept chromosome, and a revision that drops,
    // moves and adds genes
    val span = nextPos.toSeq.filter { case (c, _) => keepContig(c) }
    var geneId = 1
    val genes = span.flatMap { case (c, end) =>
      Seq.fill(math.max(3, (end / 15000).toInt)) {
        val s = 1000L + (rnd.nextDouble() * end).toLong
        (geneId, Gene(normChrom(c), s, s + 300 + rnd.nextInt(6000)))
          .tap(_ => geneId += 1)
      }
    }
    val revised = genes.flatMap { case (id, g) =>
      val u = rnd.nextDouble()
      if (u < 0.15) None
      else if (u < 0.35) {
        val shift = rnd.nextInt(3000) - 1500
        Some((id, g.copy(start = math.max(1L, g.start + shift),
          stop = math.max(2L, g.stop + shift))))
      } else Some((id, g))
    } ++ genes.filter(_ => chance(0.15)).map { case (_, g) =>
      val s = math.max(1L, g.start + 2000 + rnd.nextInt(8000))
      (geneId, g.copy(start = s, stop = s + 300 + rnd.nextInt(4000)))
        .tap(_ => geneId += 1)
    }

    // ---- expectations (independent of the program under test)
    val sampleIds = names.map(dict.get)
    def dp0(r: Rec): Boolean = {
      val f = r.blobs.headOption.map(_.split(":", -1)).getOrElse(Array.empty)
      f.length >= 3 && f(2).toIntOption.contains(0)
    }
    def kept(r: Rec): Boolean = keepContig(r.chrom) && !dp0(r)
    type Key = (String, Long, String, String)
    def keys(r: Rec): Seq[(Key, Long)] = r.alts.map { a =>
      val (s, e, rn, vn) = normalize(r.pos, r.ref, a)
      ((normChrom(r.chrom), s, rn, vn), e)
    }
    def details(r: Rec): Seq[(Key, Int)] = keys(r).zipWithIndex.flatMap {
      case ((k, _), j) => r.blobs.indices.flatMap { s =>
        val f = r.blobs(s).split(":", -1)
        val gt = f(0)
        val ad = if (f.length > 1) f(1).split(",", -1) else Array.empty[String]
        val depth = if (ad.length > j + 1) ad(j + 1).toIntOption else None
        if (gt == "0/0" || gt == "./." || !depth.exists(_ != 0)) None
        else sampleIds(s).map(k -> _)
      }
    }
    val cohortAll = cohort ++ dups
    val keptCohort = cohortAll.filter(kept)
    val cohortKeys = keptCohort.flatMap(keys).toMap
    val cohortDetails = keptCohort.flatMap(details).toSet
    val keptNovel = novel.filter(kept)
    val novelKeys = keptNovel.flatMap(keys).toMap
    val novelDetails = keptNovel.flatMap(details).toSet

    def overlaps(gs: Seq[Gene], c: String, s: Long, e: Long): Boolean =
      gs.exists(g => g.chrom == c && g.start <= e && g.stop >= s)
    val oldGenes = genes.map(_._2)
    val newGenes = revised.map(_._2)
    val stored = (cohortKeys ++ novelKeys).toSeq.map { case (k, end) =>
      (k, overlaps(oldGenes, k._1, k._2, end))
    }
    // the QC job re-derives loci from the first allele of each kept
    // cohort record and probes the point [start, start]
    val loci = keptCohort.map(r => keys(r).head._1).map(k => (k._1, k._2)).toSet
    val after = stored.map { case (k, genic) =>
      if (loci((k._1, k._2))) (genic, overlaps(newGenes, k._1, k._2, k._2))
      else (genic, genic)
    }
    val expect = CohortExpect(
      records = cohortAll.size,
      keptRecords = keptCohort.size,
      droppedContig = cohortAll.count(r => !keepContig(r.chrom)),
      droppedDp0 = cohortAll.count(r => keepContig(r.chrom) && dp0(r)),
      alleles = keptCohort.map(_.alts.size.toLong).sum,
      variants = cohortKeys.size,
      details = cohortDetails.size,
      deltaRecords = novel.size + redelivered.size,
      deltaNovelVariants = novelKeys.size,
      deltaNovelDetails = novelDetails.size,
      flips = after.count { case (a, b) => a != b },
      genicAfterQc = after.count(_._2))

    // ---- files
    val header = Seq(
      "##fileformat=VCFv4.2",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT") ++ names).mkString("\t"))
    val cohortDir = s"$dir/cohort"
    new File(cohortDir).mkdirs()
    val per = (lines.length + chunks - 1) / chunks
    lines.grouped(per).zipWithIndex.foreach { case (ls, i) =>
      writeGz(s"$cohortDir/chunk-$i.vcf.gz", header ++ ls)
    }
    val order = Chroms.map(normChrom).zipWithIndex.toMap
    val delta = (novel ++ redelivered)
      .sortBy(r => (order.getOrElse(normChrom(r.chrom), 99), r.chrom, r.pos))
    writeGz(s"$dir/delta.vcf.gz", header ++ delta.map(_.line))
    CohortFiles(dir, cohortDir, s"$dir/delta.vcf.gz", s"$dir/genes",
      s"$dir/genes_revised", dict, expect)
      .tap(_ => writeGenes(s"$dir/genes.tsv", genes))
      .tap(_ => writeGenes(s"$dir/genes_revised.tsv", revised))
  }

  private def writeGz(path: String, lines: Iterable[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
      new java.io.FileOutputStream(path), 1 << 16), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def writeGenes(path: String, genes: Seq[(Int, Gene)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      genes.map { case (id, g) => s"$id\t${g.chrom}\t${g.start}\t${g.stop}" }
        .mkString("", "\n", "\n"))
}
