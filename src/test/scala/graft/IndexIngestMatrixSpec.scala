package graft

import graft.operators.{Clustering, Retrieval, Similarity}
import graft.streaming.IndexIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One crash and tombstone matrix over IndexIngest's four families,
  * written as a table of (family, data dirs, batches, rebuild) rows.
  * Every row runs the same protocol checks against the on-disk layout:
  *
  *  - crash replays: intent only, intent plus a partial append into each
  *    data dir in turn, and a committed batch — each replay serves
  *    exactly the rebuild, with no duplicated rows;
  *  - tombstone horizon: a batch that crashed before a deletion
  *    replays after it without bringing the deleted ids back;
  *  - compaction sweeps a committed deletion's orphaned snapshot.
  */
class IndexIngestMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** A family row. Batches are lists of ids; `frame` renders ids as the
    * family's input rows, `rebuild` serves the from-scratch reference
    * over the given batches (in ingest order), `delete` forgets
    * `(id, batch)` pairs under a deletion id. */
  private case class Family(
      name: String,
      dataDirs: Seq[String],
      batches: Seq[Seq[Long]],
      setup: String => Unit,
      ingest: (DataFrame, Long, String) => Boolean,
      frame: Seq[Long] => DataFrame,
      served: String => Any,
      rebuild: Seq[Seq[Long]] => Any,
      delete: (String, Seq[(Long, Long)], Long) => Boolean,
      compact: String => Unit)

  // ---- BM25 ----
  private val texts = Map(
    101L -> "apple banana cherry date", 102L -> "apple apple banana fig",
    103L -> "grape melon peach plum kiwi",
    104L -> "banana cherry cherry apple",
    105L -> "melon fig date apple banana grape")
  private val textQueries = Seq((1L, "apple banana"), (2L, "melon grape"))
  private def docs(ids: Seq[Long]) =
    ids.map(i => (i, texts(i))).toDF("doc_id", "text")
  private def bm25Rows(df: DataFrame) =
    df.select(col("query_id"), col("rank"), col("doc_id").cast("string"),
      col("score")).as[(Long, Int, String, Double)].collect().toSet

  // ---- IVF / k-means (3-dim, well separated) ----
  private val vec3 = Map(
    201L -> Seq(0.9f, 0.05f, 0.0f), 202L -> Seq(0.05f, 0.9f, 0.0f),
    203L -> Seq(0.95f, 0.1f, 0.0f), 204L -> Seq(0.1f, 0.95f, 0.0f),
    205L -> Seq(0.85f, 0.05f, 0.0f))
  private val cents = Seq(0L -> Seq(1.0f, 0.0f, 0.0f),
    1L -> Seq(0.0f, 1.0f, 0.0f))
  private val q3 = Seq((1L, Seq(1.0f, 0.05f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.1f)))
  private def vecs3(ids: Seq[Long]) =
    ids.map(i => (i, vec3(i))).toDF("vec_id", "embedding")
  private def vecRows(df: DataFrame) =
    df.as[(Long, Int, Long, Double)].collect().toSet
  private val seeds = Seq(Seq(127.0, 0.0, 0.0), Seq(0.0, 127.0, 0.0))
  private def kmFold(st: Seq[Seq[Double]], ids: Seq[Long]) = {
    val parts = Clustering.miniBatchPartials(vecs3(ids), st)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](2).toSeq).toMap
    st.zipWithIndex.map { case (s, cl) =>
      parts.get(cl).map(p => s.zip(p).map { case (a, x) => a + x })
        .getOrElse(s)
    }
  }

  // ---- PQ (4-dim, m=2 subspaces × 2 codes) ----
  private val pqCb: Seq[Seq[Seq[Float]]] = Seq(
    Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
    Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
  private val vec4 = Map(
    301L -> Seq(0.9f, 0.1f, 0.2f, 0.8f), 302L -> Seq(0.1f, 0.9f, 0.7f, 0.1f),
    303L -> Seq(0.8f, 0.0f, 0.9f, 0.2f), 304L -> Seq(0.0f, 0.8f, 0.1f, 0.9f),
    305L -> Seq(0.7f, 0.2f, 0.8f, 0.0f))
  private val q4 = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
    (2L, Seq(0.0f, 1.0f, 1.0f, 0.0f)))
  private def vecs4(ids: Seq[Long]) =
    ids.map(i => (i, vec4(i))).toDF("vec_id", "embedding")

  private val families = Seq(
    Family("bm25", Seq("tf", "df", "stats"),
      Seq(Seq(101L, 102L, 103L), Seq(104L, 105L)),
      setup = _ => (),
      ingest = (b, id, d) => IndexIngest.ingestBm25Batch(b, id, d),
      frame = docs,
      served = d => bm25Rows(Retrieval.bm25TopKWithIndex(
        IndexIngest.readBm25(spark, d), textQueries.toDF("query_id",
          "query_text"), k = 10)),
      rebuild = bs => bm25Rows(Retrieval.bm25TopK(docs(bs.flatten),
        textQueries.toDF("query_id", "query_text"), k = 10)),
      delete = (d, ids, del) =>
        IndexIngest.deleteBm25Docs(spark, d, ids.map(_._1.toString), del),
      compact = d => IndexIngest.compactBm25(spark, d)),
    Family("ivf", Seq("assigned"),
      Seq(Seq(201L, 202L, 203L), Seq(204L, 205L)),
      setup = d => IndexIngest.bootstrapIvf(spark, d, cents),
      ingest = (b, id, d) => IndexIngest.ingestIvfBatch(b, id, d),
      frame = vecs3,
      served = d => vecRows(Similarity.ivfTopKWithIndex(
        IndexIngest.readIvf(spark, d), q3.toDF("query_id", "embedding"),
        k = 10, nprobe = 2)),
      rebuild = bs => vecRows(Similarity.ivfTopKWithIndex(
        Similarity.buildIvfIndex(vecs3(bs.flatten), cents.size,
          centroids = cents),
        q3.toDF("query_id", "embedding"), k = 10, nprobe = 2)),
      delete = (d, ids, del) =>
        IndexIngest.deleteIvfVecs(spark, d, ids.map(_._1), del),
      compact = d => IndexIngest.compactIvf(spark, d)),
    Family("pq", Seq("codes"),
      Seq(Seq(301L, 302L, 303L), Seq(304L, 305L)),
      setup = d => IndexIngest.bootstrapPq(spark, d, pqCb),
      ingest = (b, id, d) => IndexIngest.ingestPqBatch(b, id, d),
      frame = vecs4,
      served = d => vecRows(Similarity.pqTopKWithIndex(
        IndexIngest.readPq(spark, d), q4.toDF("query_id", "embedding"),
        k = 10)),
      rebuild = bs => vecRows(Similarity.pqTopKWithIndex(
        Similarity.buildPqIndex(vecs4(bs.flatten), m = 2, codebookSize = 2,
          codebook = pqCb),
        q4.toDF("query_id", "embedding"), k = 10)),
      delete = (d, ids, del) =>
        IndexIngest.deletePqVecs(spark, d, ids.map(_._1), del),
      compact = d => IndexIngest.compactPq(spark, d)),
    Family("kmeans", Seq("partials"),
      Seq(Seq(201L, 202L, 203L), Seq(204L, 205L)),
      setup = d => IndexIngest.bootstrapKmeans(spark, d, seeds),
      ingest = (b, id, d) => IndexIngest.ingestKmeansBatch(b, id, d),
      frame = vecs3,
      served = d => IndexIngest.readKmeansSums(spark, d),
      rebuild = bs => bs.foldLeft(seeds)(kmFold),
      delete = (d, ids, del) => IndexIngest.deleteKmeansContribs(spark, d,
        ids.map { case (i, b) => (i, vec3(i), b) }
          .toDF("vec_id", "embedding", "__batch"), del),
      compact = d => IndexIngest.compactKmeans(spark, d)))

  private def touch(path: String): Unit =
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path)): Unit

  private def batchRows(dir: String, dataDir: String, batch: Long): Long =
    spark.read.parquet(s"$dir/$dataDir")
      .filter(col("__batch") === batch).count()

  for (fam <- families) {
    val Seq(b0, b1) = fam.batches

    test(s"${fam.name} crash matrix: intent only, a partial append into " +
        "each data dir, a committed batch — every replay ≡ rebuild") {
      // the reference: both batches folded cleanly; its batch-1 rows are
      // exactly what an ingest appends, so they build the crash states
      val ref = tmp(s"${fam.name}-ref")
      fam.setup(ref)
      assert(fam.ingest(fam.frame(b0), 0L, ref))
      assert(fam.ingest(fam.frame(b1), 1L, ref))
      val want = fam.rebuild(Seq(b0, b1))
      assert(fam.served(ref) === want, "clean increments ≡ rebuild")
      assert(!fam.ingest(fam.frame(b1), 1L, ref),
        "a committed batch replays as a no-op")
      assert(fam.served(ref) === want)

      val crashes = ("intent only", None) +:
        fam.dataDirs.map(d => (s"partial $d", Some(d)))
      for ((label, partial) <- crashes) {
        val dir = tmp(s"${fam.name}-crash")
        fam.setup(dir)
        assert(fam.ingest(fam.frame(b0), 0L, dir))
        touch(s"$dir/markers/1.intent")
        partial.foreach { d =>
          spark.read.parquet(s"$ref/$d").filter(col("__batch") === 1L)
            .write.mode("append").parquet(s"$dir/$d")
        }
        assert(fam.served(dir) === fam.rebuild(Seq(b0)),
          s"$label: a crashed batch's rows must not serve")
        assert(fam.ingest(fam.frame(b1), 1L, dir),
          s"$label: the replay folds the batch")
        assert(fam.served(dir) === want, s"$label: served ≠ rebuild")
        fam.dataDirs.foreach { d =>
          assert(batchRows(dir, d, 1L) === batchRows(ref, d, 1L),
            s"$label: $d rows duplicated or lost")
        }
        assert(!fam.ingest(fam.frame(b1), 1L, dir),
          s"$label: the replayed batch is now committed")
        assert(fam.served(dir) === want)
        graft.operators.Dedup.releasePersisted()
      }
    }

    test(s"${fam.name} tombstone horizon: a batch that crashed before a " +
        "deletion does not resurrect the deleted ids when it replays") {
      val ref = tmp(s"${fam.name}-tref")
      fam.setup(ref)
      assert(fam.ingest(fam.frame(b0), 0L, ref))
      assert(fam.ingest(fam.frame(b1), 1L, ref))
      val dir = tmp(s"${fam.name}-tomb")
      fam.setup(dir)
      assert(fam.ingest(fam.frame(b0), 0L, dir))
      // batch 1 crashed after a partial append into its first data dir
      touch(s"$dir/markers/1.intent")
      val first = fam.dataDirs.head
      spark.read.parquet(s"$ref/$first").filter(col("__batch") === 1L)
        .write.mode("append").parquet(s"$dir/$first")
      // a deletion of one committed id and one id of the crashed batch
      // commits while the batch is down
      val (gone0, gone1) = (b0.last, b1.head)
      val doomed = Seq(gone0 -> 0L, gone1 -> 1L)
      assert(fam.delete(dir, doomed, 0L))
      val want = fam.rebuild(Seq(b0.filterNot(_ == gone0),
        b1.filterNot(_ == gone1)))
      assert(fam.ingest(fam.frame(b1), 1L, dir),
        "the replay folds the batch's surviving rows")
      assert(fam.served(dir) === want,
        "the replayed batch must not bring the deleted ids back")
      assert(!fam.delete(dir, doomed, 0L),
        "a committed deletion replays as a no-op")
      assert(fam.served(dir) === want)
      graft.operators.Dedup.releasePersisted()
    }

    test(s"${fam.name} compaction sweeps a committed deletion's " +
        "orphaned snapshot") {
      val dir = tmp(s"${fam.name}-sweep")
      fam.setup(dir)
      assert(fam.ingest(fam.frame(b0), 0L, dir))
      assert(fam.delete(dir, Seq(b0.head -> 0L), 3L))
      // a crash between the commit marker and the snapshot cleanup
      // leaves the staged rows of the forgotten ids at rest
      val stage = new java.io.File(s"$dir/deletes/3")
      fam.frame(Seq(b0.head)).write.parquet(stage.getPath)
      fam.frame(Seq(b0.head)).write.parquet(stage.getPath + ".tmp")
      assert(new java.io.File(s"$dir/markers/del-3").exists())
      fam.compact(dir)
      assert(!stage.exists() && !new java.io.File(stage.getPath + ".tmp")
        .exists(), "compaction must remove the forgotten rows' snapshot")
      assert(fam.served(dir) === fam.rebuild(Seq(b0.tail)))
    }
  }
}
