package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/**
 * Sparse lexical retrieval over a document corpus — the ranking side of
 * a training-data pipeline (dataset curation by query, decontamination
 * triage, RAG corpus serving). Okapi BM25 (Robertson et al. — public
 * knowledge), in Lucene's non-negative idf form:
 *
 *   score(q, d) = Σ_{t ∈ q ∩ d} ln(1 + (N − df + 0.5)/(df + 0.5))
 *                 · tf / (tf + k1·(1 − b + b·dl/avgdl))
 *
 * Engine-reproducible by the battery's standard devices: whitespace
 * tokens lowercased on both sides, scores rounded at 4dp, rank ties to
 * the lowest doc id.
 *
 * The operator is split index/serve the way a 100 TB deployment is:
 * [[buildIndex]] derives the classic inverted-index frames — per-
 * (doc, term) tf with the doc length attached, per-term df, and a
 * single-row (N, avgdl) stats frame — in two corpus aggregations;
 * [[bm25TopK]] then scores with ONE pass over the tf frame: the query
 * terms broadcast into it, the df rows for those terms (a |query terms|-
 * row slice, never the full vocabulary) broadcast, stats broadcast, and
 * the only corpus-scale shuffles are the final per-(query, doc) sum and
 * the top-k window over candidate docs (docs sharing ≥ 1 query term —
 * term selectivity bounds the fan-out). Persist the index frames — or
 * write tf bucketed on `__t` ([[graft.sources.BucketedTables]]) — and
 * per-request cost is independent of corpus tokenization.
 */
object Retrieval {

  /** Inverted index: `tf(__id, __t, __tf, __dl)`, `df(__t, __df)`,
    * `stats(__n, __avgdl, __dlsum)` — the three frames BM25 serving
    * needs. `__dlsum` is the EXACT long token-length sum (scoring only
    * reads `__avgdl`, but increments and deletions cancel against the
    * exact integer — a `round(__avgdl·__n)` reconstruction would leave
    * a ±1 residue once dl_sum approaches 2⁵³). Columns are
    * engine-internal; persist or bucket-write the frames to reuse
    * across query batches. */
  case class Bm25Index(tf: DataFrame, df: DataFrame, stats: DataFrame)

  /** Derive a [[Bm25Index]]. The per-(doc, term) tf frame is persisted
    * (it feeds the df aggregation AND every scoring pass); df and
    * stats are cheap derivations over it, deduplicated per execution
    * by Spark's broadcast-exchange reuse (persisting them measured
    * strictly slower at bench scale — cache materialization overhead
    * with no reuse the exchange reuse wasn't already providing).
    *
    * One tokenize pass (r20, guide §2.3/§2.4): doc length rides the
    * grouping key (constant per doc), so tf needs no per-doc join —
    * the original form tokenized the corpus three times (terms, the
    * dl side of a corpus-scale shuffle join, and the stats aggregate)
    * and paid that join's exchanges. Stats derive exactly: `__n` is a
    * token-free count of docs, `__dlsum` is `sum(__tf)` over tf
    * (every token counted once), and `__avgdl = __dlsum / __n` — the
    * same double division `avg(__dl)` performs (Spark averages
    * integral columns as sum/count), and the identity [[mergeIndex]]
    * already relies on. */
  def buildIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Bm25Index = {
    // the token array MUST be aliased in its own select before
    // size/explode consume it: inlined, the optimizer rewrites `__dl`
    // as size(tokenize(text)) ABOVE the Generate — re-tokenizing the
    // doc once per OUTPUT TOKEN (measured 6x slower, r20).
    // Per-doc tf is ROW-LOCAL (r21, guide §2.4): the TokenTf kernel
    // emits each doc's (token, count) pairs in one codegen pass, so the
    // corpus-scale explode → groupBy(__id, __t, __dl) exchange is gone
    // (bit-identical rows — spec-pinned; doc ids are one-row-per-doc by
    // the same disjointness contract mergeIndex states). The small-input
    // respread keeps the kernel pass and the persisted tf wide when the
    // corpus arrives as 1-2 splits; big corpora skip it.
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < parallelism / 2)
      docs.repartition(parallelism, col(idCol)) else docs
    val tf = PersistTracker.trackPersist(spread
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col("__id"), size(col("__toks")).as("__dl"),
        explode(graft.functions.GramExpressions.tokenTf(col("__toks")))
          .as("__x"))
      .select(col("__id"), col("__x.t").as("__t"),
        col("__x.tf").as("__tf"), col("__dl")))
    val df = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val stats = docs
      .agg(count(lit(1)).as("__n"))
      .crossJoin(
        tf.agg(coalesce(sum(col("__tf")), lit(0L)).cast("long")
          .as("__dlsum")))
      .select(col("__n"),
        // empty corpus: avg() over no rows is NULL, 0.0/0.0 is NaN —
        // keep the original NULL
        when(col("__n") === 0, lit(null).cast("double"))
          .otherwise(col("__dlsum").cast("double") /
            col("__n").cast("double")).as("__avgdl"),
        col("__dlsum"))
    Bm25Index(tf, df, stats)
  }

  /**
   * Incrementally extend a [[Bm25Index]] with a batch of NEW documents —
   * the recurring-crawl refresh path, mirroring the dedup surface's
   * incremental story ([[Dedup.dedupAgainstIndex]] /
   * [[graft.streaming.DedupIngest]]): the already-indexed corpus is never
   * re-tokenized.
   *
   * Cost shape at 100 TB: the tf side is a pure UNION (an append of the
   * batch's tf rows — with bucketed-table storage, new files only, zero
   * shuffle of the existing index); the df reconciliation is a
   * vocabulary-sized full-outer sum join (vocabulary ≪ corpus); stats is
   * single-row arithmetic. Only the BATCH is tokenized.
   *
   * The merged stats are EXACTLY what a full rebuild computes: each
   * side carries its token-count sum as an exact long (`__dlsum`), the
   * sums add in integer arithmetic, and the merged mean is the same
   * single division a rebuild performs — no float round-trip at any
   * corpus size. The equivalence `mergeIndex(buildIndex(A), B) ≡
   * buildIndex(A ∪ B)` is spec-checked down to served scores.
   *
   * Contract: `batch` doc ids must be disjoint from the ids already in
   * the index (re-ingesting a doc would double-count its tf rows) —
   * gate recurring feeds through the dedup ingest surface first.
   */
  def mergeIndex(index: Bm25Index, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Bm25Index = {
    val add = buildIndex(batch, idCol, textCol)
    val tf = index.tf.unionByName(add.tf)
    val df = index.df.withColumnRenamed("__df", "__dfa")
      .join(add.df.withColumnRenamed("__df", "__dfb"), Seq("__t"), "full_outer")
      .select(col("__t"),
        (coalesce(col("__dfa"), lit(0L)) +
          coalesce(col("__dfb"), lit(0L))).as("__df"))
    val stats = index.stats
      .crossJoin(add.stats.select(col("__n").as("__n2"),
        col("__dlsum").as("__dlsum2")))
      .select((col("__n") + col("__n2")).as("__n"),
        ((col("__dlsum") + col("__dlsum2")).cast("double") /
          (col("__n") + col("__n2")).cast("double")).as("__avgdl"),
        (col("__dlsum") + col("__dlsum2")).as("__dlsum"))
    Bm25Index(tf, df, stats)
  }

  /**
   * BM25 top-k: for each query row, the `k` best-scoring documents.
   *
   * @return `(queryIdCol, rank, idCol, score)` — rank 1..k by
   *         (score desc, doc id asc), score rounded 4dp
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text"): DataFrame =
    bm25TopKWithIndex(buildIndex(docs, idCol, textCol), queries, k, k1, b,
      idCol, queryIdCol, queryTextCol)

  /** [[bm25TopK]] against a prepared [[Bm25Index]] — the serving form:
    * only the query side and the candidate slice of the index move. */
  def bm25TopKWithIndex(index: Bm25Index, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text"): DataFrame = {
    require(k > 0 && k1 >= 0 && b >= 0 && b <= 1,
      s"need k>0, k1>=0, b in [0,1]; got ($k, $k1, $b)")
    // single-action serve: every frame stays a LAZY subtree (one
    // execution, deduplicated by exchange reuse; eager localization
    // here would force index work the caller's one action may never
    // need — e.g. a downstream count that prunes the ranking)
    val qterms = queries.select(col(queryIdCol),
        explode(TextAnalysis.tokens(lower(col(queryTextCol)))).as("__t"))
      .distinct()
    scoreTermFrame(index, qterms, qterms.select("__t").distinct(),
      index.stats, k, k1, b, idCol, queryIdCol, localizeSlices = false)
  }

  /** The single stats row as a LOCAL relation — broadcast into every
    * scoring pass without re-running the stats aggregation per
    * broadcast build (one bounded collect per serve call). */
  private def localStats(index: Bm25Index): DataFrame =
    localRows(index.stats.sparkSession, index.stats.collect().toSeq,
      index.stats.schema)

  /** The BM25 idf term on an index's (__n, __df) columns. */
  private def bm25Idf: Column = log(lit(1.0) +
    (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))

  /** Re-create a contract-bounded frame as a driver-LOCAL relation.
    * Serving's query-side frames (query terms, feedback ids, expansion
    * picks) are exactly the rows every broadcast join already collects
    * to the driver — but as DISTRIBUTED subtrees each broadcast build
    * ran as its own Spark job, with its own AQE shuffle stages for any
    * distinct/union in the subtree (r20 job count, 53a609c: 40 of the PRF
    * serve's 50 jobs were broadcast builds). A broadcast over a local
    * relation builds jobless, and driver-side distinct/union replace
    * the shuffles outright (guide §2.4). */
  private def localRows(session: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      schema)

  /** The per-query term frame `(queryIdCol, __t)` and its distinct-term
    * vocabulary `(__t)`, both as LOCAL relations (one bounded collect —
    * |query batch| · |terms| rows, the broadcast bound serving already
    * had). */
  private def localTermFrames(queries: DataFrame, queryIdCol: String,
      queryTextCol: String): (DataFrame, DataFrame) = {
    val raw = queries.select(col(queryIdCol),
      explode(TextAnalysis.tokens(lower(col(queryTextCol)))).as("__t"))
    val rows = raw.collect().toSeq.distinct
    val session = queries.sparkSession
    val qterms = localRows(session, rows, raw.schema)
    val vocab = localRows(session,
      rows.map(r => Row(r.get(1))).distinct,
      org.apache.spark.sql.types.StructType(Seq(raw.schema.fields(1))))
    (qterms, vocab)
  }

  /** Score a prepared per-query TERM frame `(queryIdCol, __t)` (with
    * its distinct vocabulary `qvocab(__t)`) against the index — the
    * shared tail of [[bm25TopKWithIndex]] and [[prfTopK]] (both
    * rounds). Plan shape unchanged from the original inline form:
    * broadcast term frame + broadcast query-vocab df slice + broadcast
    * 1-row stats onto the tf scan. */
  private def scoreTermFrame(index: Bm25Index, qterms: DataFrame,
      qvocab: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double, idCol: String, queryIdCol: String,
      localizeSlices: Boolean = true): DataFrame = {
    // df slice for the query vocabulary only — |query terms| rows, so
    // it broadcasts no matter how large the corpus vocabulary is; in
    // the multi-action PRF serve the slice round-trips through the
    // driver so each action's broadcast build does not re-run the
    // vocabulary aggregation (broadcasts never reuse across actions)
    val dfqDf = index.df.join(broadcast(qvocab), Seq("__t"))
    val dfq =
      if (!localizeSlices) dfqDf
      else localRows(dfqDf.sparkSession, dfqDf.collect().toSeq,
        dfqDf.schema)
    val norm = col("__tf") /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    val scored = index.tf
      .join(broadcast(qterms), Seq("__t"))
      .join(broadcast(dfq), Seq("__t"))
      .crossJoin(broadcast(stats))
      .groupBy(col(queryIdCol), col("__id"))
      .agg(round(sum(bm25Idf * norm), 4).as("score"))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("score").desc, col("__id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col("__id").as(idCol), col("score"))
  }

  /**
   * Pseudo-relevance-feedback retrieval (Rocchio-style query
   * expansion — public practice: Rocchio 1971; Robertson/Sparck-Jones
   * term weighting): an initial BM25 round takes each query's top
   * `fbDocs` documents as presumed-relevant feedback, the `fbTerms`
   * strongest non-query terms of that feedback set (by idf-weighted
   * feedback term frequency, ties lexicographic) join the query, and
   * the expanded term set is rescored for the final top-k — recall
   * recovered for under-specified queries with no model in the loop.
   *
   * Scale shape: two [[scoreTermFrame]] passes (each the standard
   * broadcast-serving plan) plus a feedback stage whose frames are all
   * query-bounded: the feedback doc list (|Q|·fbDocs rows) broadcasts
   * into the tf scan, candidate term weights aggregate at
   * (query, term) grain, and the expansion pick is a window over
   * |Q|-bounded rows. The corpus is scanned, never shuffled. The
   * query-bounded frames round-trip through the driver as LOCAL
   * relations between stages (r20): each is at most |Q|·fbDocs or
   * |Q|·fbTerms rows — rows the old lazy plan collected anyway to
   * build its broadcasts, but as distributed subtrees whose builds ran
   * ~40 separate Spark jobs per serve (r20 job count); localized, the
   * serve runs 3 corpus-side actions (round 1, expansion weights,
   * round 2) and the persisted all-terms/union shuffles disappear.
   *
   * @return `(queryIdCol, rank, idCol, score)` — final expanded-query
   *         ranking
   */
  def prfTopK(index: Bm25Index, queries: DataFrame, k: Int,
      fbDocs: Int = 3, fbTerms: Int = 2,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text"): DataFrame = {
    require(fbDocs > 0 && fbTerms >= 0,
      s"need fbDocs>0, fbTerms>=0; got ($fbDocs, $fbTerms)")
    val session = queries.sparkSession
    val (qterms, qvocab) = localTermFrames(queries, queryIdCol,
      queryTextCol)
    val stats = localStats(index)
    val first = scoreTermFrame(index, qterms, qvocab, stats, fbDocs, k1,
      b, "__fbid", queryIdCol)
    // round 1 executes HERE: |Q|·fbDocs rows back to the driver
    val fbDf = first.select(col(queryIdCol), col("__fbid").as("__id"))
    val fb = localRows(session, fbDf.collect().toSeq, fbDf.schema)
    // pinned: used twice (term-distinct slice + the weight join) and its
    // lineage re-runs the feedback tf probe otherwise
    val cand = PersistTracker.trackPersist(
      index.tf.join(broadcast(fb), Seq("__id"))
        .groupBy(col(queryIdCol), col("__t")).agg(sum("__tf").as("__ftf")))
    val dfc = index.df
      .join(broadcast(cand.select("__t").distinct()), Seq("__t"))
    val weighted = cand.join(broadcast(dfc), Seq("__t"))
      .crossJoin(broadcast(stats))
      .select(col(queryIdCol), col("__t"),
        round(bm25Idf * col("__ftf"), 4).as("__w"))
      .join(qterms, Seq(queryIdCol, "__t"), "left_anti")
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("__w").desc, col("__t"))
    // the expansion pick executes HERE: ≤ |Q|·fbTerms rows back to the
    // driver; the expanded term set unions with the query terms as a
    // plain driver set — no persisted union/distinct shuffles
    val expansion = weighted.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= fbTerms)
      .select(col(queryIdCol), col("__t"))
      .collect().toSeq
    val allRows = (qterms.collect().toSeq ++ expansion).distinct
    val allTerms = localRows(session, allRows, qterms.schema)
    val allVocab = localRows(session,
      allRows.map(r => Row(r.get(1))).distinct,
      org.apache.spark.sql.types.StructType(Seq(qterms.schema.fields(1))))
    scoreTermFrame(index, allTerms, allVocab, stats, k, k1, b, idCol,
      queryIdCol)
  }

  /**
   * Ranking-quality evaluation — the measurement loop every retrieval
   * deployment needs next to its index: per-query reciprocal rank and
   * recall@k of a ranking against a relevance-judgment set (qrels).
   * Standard IR metrics (public knowledge: TREC MRR / recall@k).
   *
   * Queries with NO retrieved relevant document surface with rr = 0 and
   * recall = 0 (they must not silently drop — a collapsed retriever
   * scoring "no rows" would otherwise look perfect). Corpus-level MRR /
   * mean recall are one trivial `avg` over the result.
   *
   * Scale shape: both inputs are query-bounded (`ranked` ≤ depth·|Q|
   * rows, `qrels` |judgments| rows) — the corpus itself is never
   * touched, so evaluation cost is independent of index size.
   *
   * @param ranked `(queryIdCol, rank, idCol)` e.g. [[bm25TopK]] output
   * @param qrels  `(queryIdCol, idCol)` — the relevant ids per query
   * @return `(queryIdCol, rr, hits_at_k, n_rel, recall_at_k)`, rr and
   *         recall rounded 4dp
   */
  def evalRanking(ranked: DataFrame, qrels: DataFrame, k: Int,
      idCol: String = "doc_id", queryIdCol: String = "query_id"): DataFrame = {
    require(k > 0, s"need k>0; got $k")
    val hits = ranked.filter(col("rank") <= k)
      .join(qrels.select(col(queryIdCol), col(idCol)), Seq(queryIdCol, idCol))
    val perQ = hits.groupBy(queryIdCol)
      .agg(min(col("rank")).as("__first"), count(lit(1)).as("__hits"))
    qrels.groupBy(queryIdCol).agg(count(lit(1)).as("n_rel"))
      .join(perQ, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 4).as("rr"),
        coalesce(col("__hits"), lit(0L)).as("hits_at_k"),
        col("n_rel"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / col("n_rel"),
          4).as("recall_at_k"))
  }

  /**
   * Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009 — public
   * knowledge): fuse per-query rankings from heterogeneous retrievers
   * into one list, `fused(d) = Σ_lists 1 / (K + rank_list(d))`. RRF is
   * the standard lexical+dense hybrid because it needs no score
   * calibration — only ranks cross retriever boundaries.
   *
   * Contributions are computed in EXACT integer arithmetic —
   * `1e9 div (K + rank)` per list — so the fused score is a BIGINT sum:
   * engine-independent (hash-gate safe) and immune to double summation
   * order for any number of input lists. The 1e9 scaling preserves the
   * rank order of true RRF for every K + rank ≤ ~31623 (where adjacent
   * reciprocals still differ by ≥ 1 after scaling) — far beyond any
   * sane fusion depth.
   *
   * Scale shape: each input is already a top-`depth` slice (≤ depth ×
   * |queries| rows), so fusion shuffles only candidate ids — never a
   * corpus. Ties break to the lower document id.
   *
   * @param rankings frames of `(queryIdCol, rank, idCol)` (extra
   *                 columns ignored), e.g. [[bm25TopK]] output and
   *                 [[Similarity.bruteForceTopK]] output with the id
   *                 column aligned
   * @return `(queryIdCol, rank, idCol, rrf_score, n_lists)` — top `k`
   *         per query by (fused score desc, id asc); `n_lists` = how
   *         many input rankings surfaced the id
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60,
      idCol: String = "doc_id", queryIdCol: String = "query_id"): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0 && rrfK >= 0, s"need k>0, rrfK>=0; got ($k, $rrfK)")
    val slim = rankings.map(_.select(col(queryIdCol), col("rank"), col(idCol)))
    val contrib = slim.reduce(_.unionByName(_))
      .withColumn("__c", expr(s"CAST(1000000000 AS BIGINT) div (rank + $rrfK)"))
    val fused = contrib.groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__c")).as("rrf_score"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("rrf_score").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("rrf_score"), col("n_lists"))
  }

  /**
   * Hybrid lexical+dense retrieval: BM25 over the text corpus and
   * brute-force cosine over the embedding corpus, each cut to a
   * `depth`-deep candidate list, fused with [[rrfFuse]]. The id spaces
   * must align (`docs(idCol)` ≡ `vecs(vecIdCol)`).
   *
   * 100 TB shape: both retrievers already have index/serve splits
   * ([[buildIndex]] / [[Similarity.ivfTopKWithIndex]]) — swap either
   * side in; the fusion stage only ever sees 2 · depth · |queries|
   * candidate rows, so hybrid cost is the max of the two retrievers,
   * not their product.
   *
   * @param queries `(queryIdCol, queryTextCol, vecCol)` — text for the
   *                lexical side, embedding for the dense side
   */
  def hybridTopK(docs: DataFrame, vecs: DataFrame, queries: DataFrame,
      k: Int, depth: Int = 20, rrfK: Int = 60,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text"): DataFrame = {
    require(depth >= k, s"fusion depth $depth must cover requested k=$k")
    val lex = bm25TopK(docs, queries.select(col(queryIdCol), col(queryTextCol)),
      depth, k1, b, idCol, textCol, queryIdCol, queryTextCol)
    val dense = Similarity.bruteForceTopK(
        vecs, queries.select(col(queryIdCol), col(vecCol)),
        depth, idCol = vecIdCol, queryIdCol = queryIdCol, vecCol = vecCol)
      .withColumnRenamed(vecIdCol, idCol)
    rrfFuse(Seq(lex, dense), k, rrfK, idCol, queryIdCol)
  }

  /**
   * Exact phrase search: for each query phrase, every document whose
   * token stream contains the phrase's tokens CONTIGUOUSLY, with the
   * occurrence count and the 1-based position of the first occurrence —
   * the corpus-audit primitive BM25's bag-of-words ranking can't answer
   * ("which documents contain this exact benchmark sentence?").
   *
   * Classic positional-index anchor alignment: positional postings
   * (doc, pos, term) join the broadcast query terms (qpos, term); a
   * phrase occurrence starting at position a exists iff every qpos has
   * a posting at a + qpos − 1, i.e. the (doc, anchor = pos − qpos)
   * group covers all qlen query offsets. Repeated phrase terms are
   * handled by counting DISTINCT qpos per anchor.
   *
   * Scale shape: the postings explode is the corpus scan (build it once
   * and persist/bucket by term for repeated audits); the broadcast term
   * join discards every non-matching posting AT the scan, so the anchor
   * aggregation — the only corpus-scale shuffle — sees only postings of
   * query terms (query-vocabulary selectivity, not corpus size).
   */
  def phraseSearch(docs: DataFrame, queries: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", phraseCol: String = "phrase"): DataFrame = {
    val postings = docs.select(col(idCol),
        posexplode(TextAnalysis.tokens(lower(col(textCol))))
          .as(Seq("__p", "__t")))
      .select(col(idCol), (col("__p") + 1).as("__pos"), col("__t"))
    val qtoks = TextAnalysis.tokens(lower(col(phraseCol)))
    val qt = queries.select(col(queryIdCol), size(qtoks).as("__qlen"),
        posexplode(qtoks).as(Seq("__q", "__t")))
      .select(col(queryIdCol), col("__qlen"), (col("__q") + 1).as("__qpos"),
        col("__t"))
    postings.join(broadcast(qt), Seq("__t"))
      .select(col(queryIdCol), col(idCol), col("__qlen"), col("__qpos"),
        (col("__pos") - col("__qpos")).as("__anchor"))
      .groupBy(col(queryIdCol), col(idCol), col("__anchor"), col("__qlen"))
      .agg(countDistinct(col("__qpos")).as("__hit"))
      .filter(col("__hit") === col("__qlen"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("__anchor")) + 1).cast("long").as("first_pos"))
  }
}
