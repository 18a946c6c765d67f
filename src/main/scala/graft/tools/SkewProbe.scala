package graft.tools

import graft.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Hot-bucket scale probe (VERDICT r8 "What's wrong" #1): the 10×
 * ScaleProbe corpus is deliberately skew-free (per-copy character
 * bijection), so it cannot exercise the one quadratic-on-a-skewed-key
 * hazard — a template family (near-identical boilerplate pages) that
 * floods one band bucket. This probe PLANTS that family: sf0.1's
 * documents plus `familySize` near-identical docs (a fixed template +
 * a per-doc counter suffix), then times the three candidate paths on
 * the SAME corpus in the same JVM:
 *
 *  - star:     [[Dedup.nearDupStarEdgesFromSignatures]] → CC counts —
 *              the lossless linear form the CC consumers use; must stay
 *              ~flat vs the unskewed base;
 *  - capped:   [[Dedup.nearDupPairsFromSignatures]] with a bucket cap
 *              below the family depth — the guarded pair form; must
 *              stay ~flat (family buckets excluded, logged);
 *  - allpairs: the same with the cap disabled — the pre-r9 shape; goes
 *              quadratic in the family depth (familySize²/2 candidate
 *              rows per shared band), the measured blowup the guard
 *              exists for. Skipped when SPARK_GRAFT_SKEW_ALLPAIRS=0
 *              (it is the slow arm by design).
 *
 * Env: SPARK_GRAFT_SCALE_BASE (default /root/testdata/sf0.1),
 * SPARK_GRAFT_SKEW_FAMILY (default 5000), SPARK_GRAFT_BENCH_REPS
 * (default 2), SPARK_GRAFT_SKEW_ALLPAIRS (default 1).
 */
object SkewProbe {

  private val Template =
    "breaking news article boilerplate header navigation menu footer " +
    "copyright two thousand twenty six all rights reserved subscribe to " +
    "our newsletter follow us on social media terms of service privacy " +
    "policy cookie settings advertisement sponsored content related " +
    "articles trending stories most read editor picks contact the desk"

  private def skewed(spark: SparkSession, base: String,
      familySize: Int): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .select("doc_id", "text")
    val family = spark.range(familySize)
      .select((col("id") + 500000000L).as("doc_id"),
        concat(lit(Template + " item number "), col("id")).as("text"))
    docs.unionByName(family)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      "/root/testdata/sf0.1")
    val familySize = sys.env.getOrElse("SPARK_GRAFT_SKEW_FAMILY", "5000").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val runAllPairs = sys.env.getOrElse("SPARK_GRAFT_SKEW_ALLPAIRS", "1") == "1"
    val spark = GraftSession.battery()

    val plain = spark.read.parquet(s"$base/documents.parquet")
      .select("doc_id", "text")
    val withFamily = skewed(spark, base, familySize)

    def sigs(df: DataFrame) = Dedup.minhashSignaturesFromText(
      df, "doc_id", col("text"), n = 5, numHashes = 128)

    def star(df: DataFrame): Long =
      Dedup.connectedComponents(
        Dedup.nearDupStarEdgesFromSignatures(sigs(df), "doc_id",
          numHashes = 128, bands = 16, threshold = 0.7),
        df.select("doc_id")).filter(col("doc_id") =!= col("component"))
        .count()
    def pairs(df: DataFrame, cap: Int): Long =
      Dedup.nearDupPairsFromSignatures(sigs(df), "doc_id",
        numHashes = 128, bands = 16, threshold = 0.7,
        maxBucketSize = cap).count()

    // hot-CELL twin of the band probe: sf0.1 embeddings plus a planted
    // near-identical vector family — every family member lands in ONE
    // Voronoi cell, the ivfKnnJoin skewed-key surface
    val embBase = spark.read.parquet(s"$base/embeddings.parquet")
      .select("vec_id", "embedding")
    val embFamily = {
      import spark.implicits._
      embBase.limit(1).crossJoin(spark.range(familySize)
          .select((col("id") + 500000000L).as("__fid")))
        .select(col("__fid").as("vec_id"),
          transform(col("embedding"),
            x => (x + (col("__fid") % 100).cast("float") * lit(1e-6f))
              .cast("float")).as("embedding"))
    }
    val embSkewed = embBase.unionByName(embFamily)
    def knnJoin(df: DataFrame, cap: Int): Long =
      graft.operators.Similarity.ivfKnnJoin(df, k = 4, numCells = 16,
        nprobe = 4, maxCellSize = cap).count()

    val arms: Seq[(String, () => Long)] = Seq(
      ("star/base", () => star(plain)),
      ("star/skewed", () => star(withFamily)),
      ("capped/base", () => pairs(plain, 1000)),
      ("capped/skewed", () => pairs(withFamily, 1000))) ++
      (if (runAllPairs) Seq(
        ("allpairs/base", () => pairs(plain, 0)),
        ("allpairs/skewed", () => pairs(withFamily, 0))) else Seq.empty) ++
      Seq(
        ("knncap/base", () => knnJoin(embBase, 1000)),
        ("knncap/skewed", () => knnJoin(embSkewed, 1000)),
        ("knnuncap/base", () => knnJoin(embBase, 0)),
        ("knnuncap/skewed", () => knnJoin(embSkewed, 0)))

    for ((name, fn) <- arms) {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = fn()
        val dt = (System.nanoTime() - t0) / 1e9
        Dedup.releasePersisted()
        (dt, n)
      }
      println(f"[skew] $name rows=${times.head._2} " +
        times.map(t => f"${t._1}%.2f").mkString(" ") +
        f" min=${times.map(_._1).min}%.2f")
    }
    spark.stop()
  }
}
