package graft.tools

import graft.GraftSession
import graft.operators._
import org.apache.spark.sql.functions._

/**
 * End-to-end drive of the training-data pipeline surface on the test
 * corpus — the text-stack sibling of [[VcfDemo]]: every major stage
 * prints its row counts so a human (or the verify harness) can watch
 * the corpus shrink and reshape through clean → dedup → mix → pack.
 *
 * `runMain graft.tools.CorpusDemo [sfDir]` (default sf0.001)
 */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("local[4]", 4)
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      println(s"[corpus] documents=${docs.count()} embeddings=${emb.count()}")

      val (nEmails, nPhones) = TextAnalysis.piiCounts(col("text"))
      println(s"[clean] pii_redacted_docs=" + docs
        .filter(nEmails + nPhones > 0).count())

      val exact = Dedup.exactDedup(docs,
        TextAnalysis.fingerprint(col("text")), col("doc_id"))
      val uniq = exact.filter(!col("is_duplicate")).drop("is_duplicate")
      println(s"[dedup/exact] kept=${uniq.count()}")

      val pairs = Dedup.ngramJaccardPairsText(uniq, "doc_id", col("text"),
        n = 3, threshold = 0.4)
      val cc = Dedup.connectedComponents(pairs, uniq.select("doc_id"))
      val canon = cc.filter(col("doc_id") === col("component"))
      println(s"[dedup/near] pairs=${pairs.count()} canonical=${canon.count()}")
      Dedup.releasePersisted()

      val contained = Dedup.containmentPairsText(uniq, "doc_id",
        col("text"), n = 3, num = 7, den = 10)
      println(s"[dedup/containment] directed_pairs=${contained.count()}")
      Dedup.releasePersisted()

      val bags = Dedup.exactDedup(uniq,
        TextAnalysis.bagFingerprint(col("text")), col("doc_id"))
      println(s"[dedup/bag] reordered_dups=" +
        bags.filter(col("is_duplicate")).count())

      val spans = TextAnalysis.duplicatedSpanStats(uniq, "doc_id",
        col("text"), n = 8)
      println(s"[spans] docs_with_dup_spans=" +
        spans.filter(col("n_dup_grams") > 0).count())
      Dedup.releasePersisted()

      val stripped = TextAnalysis.stripDuplicatedSpans(uniq, "doc_id",
        col("text"), n = 8)
      println(s"[spans/strip] docs_rewritten=" +
        stripped.filter(col("n_kept") < col("n_tokens")).count())
      Dedup.releasePersisted()

      val chunks = TextAnalysis.cdcChunks(uniq, "doc_id", col("text"))
      println(s"[chunk/cdc] chunks=${chunks.count()} distinct_fp=" +
        chunks.select("chunk_fp").distinct().count())

      val gated = Sampling.percentileGate(uniq, col("lang"),
        TextAnalysis.qualityScore(col("text")), 0.25)
      println(s"[quality] above_per_lang_p25=${gated.count()} " +
        "mean_compress_ratio=" + uniq.agg(round(avg(
          TextAnalysis.compressionRatio(col("text"))), 4)).head.get(0))

      val buckets = TextAnalysis.perplexityBuckets(uniq, uniq, "doc_id",
        col("text"), col("lang"))
      println(s"[quality/ppl] " + buckets.groupBy("bucket").count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .sorted.mkString(" "))
      Dedup.releasePersisted()

      val tags = TextAnalysis.keywordTag(uniq, "doc_id", col("text"),
        Seq("joins" -> Seq("join", "merge", "hash"),
          "ordering" -> Seq("sort", "order", "window")), minHits = 4)
      println(s"[tag] tagged_rows=${tags.count()}")

      val nbSplit = Sampling.assignSplit(uniq, col("doc_id"), "demo-nb")
      val nbModel = Classify.trainTokenNb(
        nbSplit.filter(col("split") === "train"),
        col("text"), (col("lang") === "en").cast("int"))
      val nbScored = Classify.scoreTokenNb(nbModel,
        nbSplit.filter(col("split") === "val"), "doc_id", col("text"))
      println(s"[quality/nb] val_scored=${nbScored.count()} pred_en=" +
        nbScored.filter(col("pred") === 1).count())

      val dsir = Classify.dsirScores(
        Classify.trainDsir(uniq.filter(col("lang") === "en"), uniq,
          col("text")),
        uniq, "doc_id", col("text"))
        .join(uniq.select("doc_id", "lang"), "doc_id")
      val Array(enMean, restMean) = dsir.agg(
        avg(when(col("lang") === "en", col("dsir_logratio"))),
        avg(when(col("lang") =!= "en", col("dsir_logratio"))))
        .head().toSeq.map(v => v.asInstanceOf[Double]).toArray
      println(f"[select/dsir] scored=${dsir.count()} " +
        f"en_mean=$enMean%.4f rest_mean=$restMean%.4f " +
        f"(target docs must score higher)")

      val sem = Dedup.semanticDedup(emb, k = 4, iters = 2, threshold = 0.45)
      println(s"[dedup/semantic] canonical=" +
        sem.filter(col("is_canonical") === 1).count())
      Dedup.releasePersisted()

      val balanced = Sampling.balanceMixture(uniq, col("lang"),
        col("doc_id"), "demo")
      val split = Sampling.assignSplit(balanced, col("doc_id"), "demo")
      println(s"[mix] balanced=${balanced.count()} " +
        split.groupBy("split").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))
      Dedup.releasePersisted()

      val lsplit = Sampling.componentSplit(cc, "component", "demo")
      val straddling = lsplit.groupBy("component")
        .agg(countDistinct("split").as("n")).filter(col("n") > 1).count()
      println(s"[mix/leakfree] components_straddling=$straddling")
      Dedup.releasePersisted()

      val leaks = Sampling.splitLeakageAudit(pairs,
        split.select("doc_id", "split"))
      println(s"[mix/leak-audit] cross_split_pairs=" +
        leaks.filter(col("is_leak")).agg(sum("n_pairs")).head.get(0))
      Dedup.releasePersisted()

      val diverse = Sampling.diversitySelect(emb, k = 4, iters = 2,
        quota = 60)
      println(s"[select/diversity] kept=${diverse.count()}")
      Dedup.releasePersisted()

      val tok = TextAnalysis.tokenCount(col("text"))
      val mixKept = Sampling.budgetMixture(uniq, col("source"),
        col("doc_id"), tok,
        Map("src1" -> 5L, "src2" -> 3L, "src3" -> 2L), budget = 4000L,
        salt = "demo", waterFill = true)
      println(s"[mix/budget] kept_docs=${mixKept.count()} kept_tokens=" +
        mixKept.agg(sum(tok)).head.get(0))

      val packed = TextAnalysis.packGreedy(
        split.filter(col("split") === "train"),
        "lang", "doc_id", col("text"), capacity = 256)
      println(s"[pack] bins=" +
        packed.select("lang", "bin").distinct().count())

      val queries = spark.createDataFrame(
        Seq((1L, "table hash join value"))).toDF("query_id", "query_text")
      val hits = Retrieval.bm25TopK(uniq, queries, k = 3)
      println(s"[retrieve] top=" + hits.collect()
        .map(r => s"doc${r.getLong(2)}@${r.getDouble(3)}").mkString(" "))
      Dedup.releasePersisted()

      // incremental refresh: index most of the corpus, merge the rest in,
      // then diff the "refreshed" corpus against the original
      val baseIx = Retrieval.buildIndex(uniq.filter(col("doc_id") % 7 =!= 0))
      val merged = Retrieval.mergeIndex(baseIx,
        uniq.filter(col("doc_id") % 7 === 0))
      val mergedHits = Retrieval.bm25TopKWithIndex(merged, queries, k = 3)
      println(s"[retrieve/merge] top=" + mergedHits.collect()
        .map(r => s"doc${r.getLong(2)}@${r.getDouble(3)}").mkString(" "))
      Dedup.releasePersisted()

      val sweep = Similarity.ivfRecallSweep(emb,
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, numCells = 16, nprobes = Seq(1, 4))
      println(s"[retrieve/ann-sweep] " + sweep.groupBy("nprobe")
        .agg(round(avg("recall"), 4).as("r")).collect()
        .map(r => s"nprobe${r.getInt(0)}=${r.getDouble(1)}")
        .sorted.mkString(" "))
      Dedup.releasePersisted()

      val diff = Dedup.snapshotDiff(docs,
        uniq.withColumn("text",
          when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))), "doc_id", col("text"))
      println(s"[version/diff] " + diff.groupBy("status").count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .sorted.mkString(" "))

      val bpe = Bpe.trainBpe(Bpe.wordTypes(uniq, col("text")), rounds = 8)
      val costed = Bpe.bpeTokenCounts(bpe, uniq, "doc_id", col("text"))
      println(s"[tokenize/bpe] merges=" + bpe.merges.orderBy("merge_round")
        .collect().map(_.getString(2)).mkString(",") +
        " corpus_bpe_tokens=" + costed.agg(sum("bpe_tokens")).head.get(0) +
        " corpus_words=" + costed.agg(sum("n_words")).head.get(0))

      val fert = Bpe.fertilityStats(bpe, uniq, "doc_id", col("text"),
        Seq("lang"))
      println(s"[tokenize/fertility] " + fert.orderBy("lang").collect()
        .map(r => s"${r.getString(0)}=${r.getAs[Double]("tokens_per_word")}")
        .mkString(" "))
      Dedup.releasePersisted()

      // streaming index maintenance: two micro-batches folded into a
      // served BM25 index; the second query round must see both
      val ingestDir = java.nio.file.Files
        .createTempDirectory("demo-bm25").toString
      val half = uniq.filter(col("doc_id") % 2 === 0)
      graft.streaming.IndexIngest.ingestBm25Batch(half, 0L, ingestDir)
      graft.streaming.IndexIngest.ingestBm25Batch(
        uniq.filter(col("doc_id") % 2 =!= 0), 1L, ingestDir)
      val servedHits = Retrieval.bm25TopKWithIndex(
        graft.streaming.IndexIngest.readBm25(spark, ingestDir),
        queries, k = 3).orderBy("query_id", "rank").collect()
      println(s"[retrieve/stream-ingest] top=" + servedHits
        .map(r => s"doc${r.getString(2)}@${r.getDouble(3)}").mkString(" "))
      Dedup.releasePersisted()

      // right-to-be-forgotten: delete the best hit from the served index
      // and confirm it no longer serves (headOption: empty results would
      // mean the demo queries matched nothing - skip rather than crash)
      servedHits.headOption.foreach { top =>
        val topDoc = top.getString(2)
        graft.streaming.IndexIngest.deleteBm25Docs(spark, ingestDir,
          Seq(topDoc), deleteId = 0L)
        println(s"[retrieve/delete] removed=doc$topDoc top=" +
          Retrieval.bm25TopKWithIndex(
            graft.streaming.IndexIngest.readBm25(spark, ingestDir),
            queries, k = 3).orderBy("query_id", "rank").collect()
            .map(r => s"doc${r.getString(2)}@${r.getDouble(3)}").mkString(" "))
      }
      Dedup.releasePersisted()

      // wordpiece: the third tokenizer family on the same corpus
      val wpWords = Bpe.wordTypes(uniq, col("text"))
      val wp = graft.operators.WordPiece.trainWordPiece(wpWords,
        maxPieceLen = 4, vocabSize = 32)
      val wpStats = graft.operators.WordPiece.pieceStats(wpWords, wp)
      println(s"[tokenize/wordpiece] vocab=" +
        s"${wp.initial.size}+${wp.cont.size}## pieces_used=" +
        wpStats.count() + " mass=" +
        wpStats.agg(sum("cnt")).head.get(0))
      Dedup.releasePersisted()

      // shard plan: token-budget training shards over the clean corpus
      val plan = graft.operators.Sampling.shardPlan(uniq, "doc_id",
        graft.operators.TextAnalysis.tokenCount(col("text")),
        budget = 5000L)
      val man = graft.operators.Sampling.shardManifest(plan)
        .orderBy("shard_id").collect()
      println(s"[shard/plan] shards=${man.length} tokens=" +
        man.map(_.getLong(2)).sum + " largest=" + man.map(_.getLong(2)).max)
      Dedup.releasePersisted()

      // exact corpus length quantiles (the data-card numbers, exact)
      val qs = graft.operators.Sampling.exactQuantiles(
        uniq, length(col("text")).cast("double"), Seq(0.5, 0.9, 0.99))
      println(s"[stats/quantiles] " + qs.orderBy("q").collect()
        .map(r => s"p${(r.getDouble(0) * 100).toInt}=${r.getDouble(2)}")
        .mkString(" "))
      Dedup.releasePersisted()

      // pagerank hubs over the embedding kNN graph
      val pr = graft.operators.GraphOps.pageRank(
        graft.operators.GraphOps.knnEdgesExact(emb, "vec_id",
          "embedding", k = 4),
        emb.select("vec_id"), "vec_id", iters = 3)
      println(s"[graph/pagerank] top_hubs=" + pr
        .orderBy(col("pr_e12").desc, col("vec_id")).limit(3).collect()
        .map(r => s"v${r.getLong(0)}@${r.getLong(1)}").mkString(" "))
      Dedup.releasePersisted()

      println("[done] corpus pipeline drive complete")
    } finally spark.stop()
  }
}
