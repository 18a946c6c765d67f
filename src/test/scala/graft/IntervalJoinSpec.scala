package graft

import graft.operators.GenicAnnotator
import graft.plans.IntervalJoin
import org.apache.spark.sql.functions._

/** The custom IntervalJoin strategy ≡ the broadcast-NLJ range join on
  * randomized intervals. */
class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(4242)
  private val variants = (1 to 2000).map { i =>
    val chrom = (rng.nextInt(4) + 1).toString
    val start = rng.nextInt(100000).toLong
    (i.toLong, chrom, start, start + rng.nextInt(50) + 1)
  }.toDF("vid", "chromosome", "start_pos", "end_pos")

  private val genes = (1 to 300).map { g =>
    val chrom = (rng.nextInt(5) + 1).toString // chrom 5 matches nothing
    val start = rng.nextInt(100000).toLong
    (g, chrom, start, start + rng.nextInt(3000) + 10)
  }.toDF("gene_rgd_id", "g_chrom", "g_start", "g_stop")

  test("custom strategy plans IntervalJoinExec and matches BNLJ results") {
    val custom = IntervalJoin.join(spark, variants, genes)
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(custom.queryExecution.executedPlan.toString
      .contains("IntervalJoin"))

    val gotPairs = custom.select("vid", "gene_rgd_id")
      .as[(Long, Int)].collect().toSet

    val bnlj = variants.join(
      broadcast(genes),
      col("chromosome") === col("g_chrom") &&
        col("g_start") <= col("end_pos") && col("g_stop") >= col("start_pos"))
      .select("vid", "gene_rgd_id")
      .as[(Long, Int)].collect().toSet

    assert(gotPairs == bnlj)
    assert(gotPairs.nonEmpty)
  }

  test("IntervalJoinExec fuses into a WholeStageCodegen span") {
    val custom = IntervalJoin.join(spark, variants, genes)
      .filter(col("gene_rgd_id") > 0) // give the span a downstream consumer
    val wscs = custom.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscs.exists(_.collectFirst {
      case j: IntervalJoin.IntervalJoinExec => j
    }.isDefined), custom.queryExecution.executedPlan.toString)
    // and the generated path agrees with the interpreted doExecute.
    // fallback=false turns a codegen COMPILE failure into a test failure
    // instead of a silent interpreted fallback that would pass vacuously.
    val viaCodegen = {
      val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try custom.select("vid", "gene_rgd_id")
        .as[(Long, Int)].collect().toSet
      finally spark.conf.set("spark.sql.codegen.fallback", prev)
    }
    val interpreted = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try IntervalJoin.join(spark, variants, genes)
        .filter(col("gene_rgd_id") > 0)
        .select("vid", "gene_rgd_id").as[(Long, Int)].collect().toSet
      finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
    assert(viaCodegen == interpreted)
  }

  test("payload columns from both sides survive the join") {
    val out = IntervalJoin.join(spark,
      variants.withColumn("tag", concat(lit("v"), col("vid"))),
      genes.withColumn("g_tag", concat(lit("g"), col("gene_rgd_id"))))
    val row = out.limit(1).collect().head
    val schema = out.columns.toSeq
    assert(schema.contains("tag") && schema.contains("g_tag"))
    assert(row.getAs[String]("tag").startsWith("v"))
    assert(row.getAs[String]("g_tag").startsWith("g"))
  }

  private def genesNatural = genes.select(col("gene_rgd_id"),
    col("g_chrom").as("chromosome"), col("g_start").as("start_pos"),
    col("g_stop").as("stop_pos"))

  test("big interval tables prune to the probe side's chromosomes") {
    // 120k intervals spread over 20 chromosomes, probe on only 2:
    // above PruneIndexRows the build side must shrink to the probed
    // chromosomes' share before the driver collect/index build
    val bigGenes = (1 to 120000).map { g =>
      val chrom = ((g % 20) + 1).toString
      val start = (g * 37 % 1000000).toLong
      (g, chrom, start, start + 500L)
    }.toDF("gene_rgd_id", "chromosome", "start_pos", "stop_pos")
    val probe = (1 to 500).map { i =>
      val chrom = if (i % 2 == 0) "3" else "7"
      val start = (i * 1931 % 1000000).toLong
      (i.toLong, chrom, start, start + 20L)
    }.toDF("vid", "chromosome", "start_pos", "end_pos")

    assert(bigGenes.count() >= GenicAnnotator.PruneIndexRows)
    val pruned = GenicAnnotator.pruneToProbedChromosomes(probe, bigGenes)
    val share = bigGenes.filter(col("chromosome").isin("3", "7")).count()
    assert(pruned.count() == share, "pruned build side != probed share")
    assert(share <= bigGenes.count() / 5, "fixture: pruning must bite")

    // the pruned paths agree with the unpruned BNLJ ground truth
    val bnlj = probe.join(
      broadcast(bigGenes.withColumnRenamed("chromosome", "g_chrom")
        .withColumnRenamed("start_pos", "g_start")
        .withColumnRenamed("stop_pos", "g_stop")),
      col("chromosome") === col("g_chrom") &&
        col("g_start") <= col("end_pos") && col("g_stop") >= col("start_pos"))
      .select("vid", "gene_rgd_id").as[(Long, Int)].collect().toSet
    val viaJoin = GenicAnnotator.overlappingGenes(probe, bigGenes)
      .select("vid", "gene_rgd_id").as[(Long, Int)].collect().toSet
    assert(viaJoin == bnlj)
    assert(viaJoin.nonEmpty)
    val genicIds = bnlj.map(_._1)
    val viaIndexed = GenicAnnotator.annotateIndexed(probe, bigGenes)
      .select("vid", "genic_status").as[(Long, String)].collect()
    assert(viaIndexed.forall { case (vid, st) =>
      st == (if (genicIds(vid)) "GENIC" else "INTERGENIC")
    })
  }

  test("oversized gene table routes to the binned enumeration and agrees") {
    val viaIndex = GenicAnnotator.overlappingGenes(variants, genesNatural)
      .select("vid", "gene_rgd_id").as[(Long, Int)].collect().toSet
    // force the fallback: pretend anything over 10 intervals is too big
    val viaBinned = GenicAnnotator
      .overlappingGenes(variants, genesNatural, maxIndexRows = 10)
    assert(!viaBinned.queryExecution.executedPlan.toString
      .contains("IntervalJoin"))
    val binnedPairs = viaBinned.select("vid", "gene_rgd_id")
      .as[(Long, Int)].collect()
    // canonical-bin emission: exactly once per pair, no dedup pass needed
    assert(binnedPairs.length == binnedPairs.toSet.size)
    assert(binnedPairs.toSet == viaIndex)
    assert(viaIndex.nonEmpty)
  }

  test("annotateIndexed routes oversized gene tables to annotateBinned") {
    def statuses(df: org.apache.spark.sql.DataFrame) =
      df.select("vid", "genic_status").as[(Long, String)].collect().toSet
    val indexed = statuses(GenicAnnotator.annotateIndexed(variants, genesNatural))
    val routed = statuses(GenicAnnotator.annotateIndexed(variants, genesNatural,
      maxIndexRows = 10))
    assert(routed == indexed)
    assert(indexed.exists(_._2 == "GENIC") && indexed.exists(_._2 == "INTERGENIC"))
  }

  test("a GraftSession session plans IntervalJoinExec with no install call") {
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(classicSpark.experimental.extraStrategies.isEmpty)
    val plan = IntervalJoin.join(spark, variants, genes).queryExecution.executedPlan
    assert(plan.collect { case e: IntervalJoin.IntervalJoinExec => e }.size == 1)
  }

  test("a session without the graft extensions gets a named error") {
    // Spark applies spark.sql.extensions to every session it builds on a
    // context, so a session without them is constructed directly
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    val bare = ctor.newInstance(classic.sparkContext, Some(classic.sharedState), None,
      new org.apache.spark.sql.SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[org.apache.spark.sql.SparkSession]
    val v = bare.range(3).selectExpr("'1' AS chromosome", "id AS start_pos",
      "id + 1 AS end_pos")
    val g = bare.range(3).selectExpr("'1' AS g_chrom", "id AS g_start",
      "id + 1 AS g_stop")
    val e = intercept[IllegalStateException](IntervalJoin.join(bare, v, g))
    assert(e.getMessage.contains("spark.sql.extensions"))
  }

  test("boundary semantics: touching intervals overlap (GeneCache.java:72-77)") {
    val v = Seq((1L, "1", 100L, 200L)).toDF("vid", "chromosome", "start_pos",
      "end_pos")
    val g = Seq(
      (10, "1", 200L, 300L),  // touches at end → overlap
      (11, "1", 50L, 100L),   // touches at start → overlap
      (12, "1", 201L, 300L),  // just misses
      (13, "2", 100L, 200L))  // wrong chromosome
      .toDF("gene_rgd_id", "g_chrom", "g_start", "g_stop")
    val got = IntervalJoin.join(spark, v, g)
      .select("gene_rgd_id").as[Int].collect().toSet
    assert(got == Set(10, 11))
  }
}
