package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer training (Sennrich et al. 2016, "Neural
 * Machine Translation of Rare Words with Subword Units") and BPE token
 * accounting over a corpus — the missing piece between the engine's
 * whitespace/BPE-ish token counts ([[TextAnalysis.tokenCount]] /
 * [[TextAnalysis.bpeishTokenCount]]) and a real subword vocabulary:
 * train the merge table on the corpus itself, then cost documents in
 * learned subword tokens.
 *
 * BPE training is sequential by nature (merge r+1's counts depend on
 * merge r), so the round loop runs on the driver; everything inside a
 * round is distributed and vocab-sized:
 *
 *  - the corpus is collapsed ONCE to the word-TYPE frequency table
 *    ([[wordTypes]]) — the classic trick that makes BPE tractable: all
 *    further work is over |vocab| rows, not corpus tokens;
 *  - each round counts adjacent symbol pairs weighted by word frequency
 *    (one explode + one groupBy(pair) with map-side combine; shuffle =
 *    distinct-pair rows) and collects exactly ONE row (the argmax,
 *    ties broken by pair string ascending);
 *  - the chosen merge is applied to the symbol column as a guarded
 *    string replace — a narrow, shuffle-free projection over the vocab.
 *
 * Symbol sequences are space-joined strings ("lower" → "l o w e r"),
 * and one merge application is `trim(replace(replace(' '||sym||' ',
 * ' a b ', ' ab '), ' a b ', ' ab '))` — the guard spaces make token
 * boundaries literal, and the replace runs TWICE because a single
 * left-to-right non-overlapping pass consumes the shared boundary
 * space and skips alternating occurrences ("x y x y" → "xy x y"); the
 * second pass merges the survivors ("xy xy"). This double-pass rule is
 * the operator's merge semantics, stated verbatim in the DuckDB oracle
 * (whose `replace` has the same left-to-right non-overlapping
 * contract), so the whole training loop hash-replays. It agrees with
 * canonical leftmost-greedy BPE everywhere except inside runs of the
 * pair's own repetition ("a a a a a" merges as `aa a aa` rather than
 * `aa aa a` — a maximal non-overlapping merge set either way), which
 * keeps both engines deterministic without a stateful per-character
 * walk neither can express declaratively.
 *
 * Scale shape at 100 TB: the corpus is touched exactly twice — once to
 * build word types (one shuffle on word) and once to cost documents
 * ([[bpeTokenCounts]]: explode → equi-join on word → per-doc sum; the
 * join side is the vocab with per-word subword lengths, broadcastable
 * for real vocabularies, and merges are never applied per token
 * occurrence). R merge rounds cost R vocab-sized jobs with one-row
 * collects — driver state is the merge table itself (R rows).
 */
object Bpe {

  /** Trained model. `merges` (merge_round, pair, merged, pair_count) is
    * the at-rest artifact a tokenizer service ships; `types` (word, sym,
    * freq) carries the fully-merged symbol string per training word —
    * the vocab-sized frame scoring joins against. */
  case class BpeModel(merges: DataFrame, types: DataFrame)

  /** Word-type frequency table of a corpus: lowercased whitespace
    * tokens, one row per distinct word. The single corpus-sized shuffle
    * of the whole training path. */
  def wordTypes(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextAnalysis.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))

  /** "lower" → "l o w e r": every character becomes a symbol. Words are
    * whitespace tokens, so the space separator is unambiguous. */
  private[graft] def symbolize(word: Column): Column =
    rtrim(regexp_replace(word, "(.)", "$1 "))

  /** One guarded double-replace merge application (see object doc). */
  private[graft] def mergeOnce(sym: Column, pair: String,
      merged: String): Column = {
    val p = lit(s" $pair ")
    val m = lit(s" $merged ")
    trim(replace(replace(concat(lit(" "), sym, lit(" ")), p, m), p, m))
  }

  /** Frequency-weighted adjacent-pair counts of a symbolized vocab —
    * the per-round aggregation. Lambda-free n-gram assembly (tokens as
    * a column, `element_at` over an exploded index): building pairs
    * inside a `transform` lambda re-evaluates captured expressions per
    * element under interpreted higher-order eval. */
  private[graft] def pairCounts(types: DataFrame): DataFrame =
    types.select(col("freq"), split(col("sym"), " ").as("__s"))
      .filter(size(col("__s")) >= 2)
      .select(col("freq"), col("__s"),
        explode(sequence(lit(1), size(col("__s")) - 1)).as("__i"))
      .select(concat_ws(" ",
        element_at(col("__s"), col("__i")),
        element_at(col("__s"), col("__i") + 1)).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))

  /**
   * Train `rounds` merges on a (word, freq) vocabulary. Stops early if
   * every word is a single symbol.
   *
   * Strategy-routed like [[Dedup.connectedComponents]]: the vocab row
   * count (one bounded action) picks the path. At or under
   * `maxDriverVocab` types the whole loop runs driver-side over a hash
   * map — BPE rounds are sequential 1-row argmaxes, so at realistic
   * vocab sizes per-round JOB overhead dominates any cluster work, and
   * an in-memory loop is what every production tokenizer trainer does.
   * Above it (100M-type web vocabularies) each round stays distributed:
   * one pair aggregation + a narrow merge projection, superseded caches
   * dropped as soon as the next round materializes. Both paths share
   * the same argmax rule (count desc, pair ascending in UNSIGNED UTF-8
   * byte order — Spark's binary string order) and the same double
   * guarded replace, and the spec pins them equal.
   */
  def trainBpe(wordTypes: DataFrame, rounds: Int,
      maxDriverVocab: Long = 200000L): BpeModel = {
    val types0 = PersistTracker.trackPersist(wordTypes.select(
      col("word"), symbolize(col("word")).as("sym"), col("freq")))
    if (types0.count() <= maxDriverVocab) trainDriver(types0, rounds)
    else trainDistributed(types0, rounds)
  }

  /** Spark's string comparisons are unsigned UTF-8 byte order; Java
    * String.compareTo is UTF-16 code-unit order. They diverge outside
    * ASCII, so the driver path tie-breaks on the bytes. */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  private def trainDriver(types0: DataFrame, rounds: Int): BpeModel = {
    val spark = types0.sparkSession
    var syms = types0.select("word", "sym", "freq").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((_, sym, f) <- syms) {
        val parts = sym.split(' ')
        var i = 0
        while (i < parts.length - 1) {
          val k = parts(i) + " " + parts(i + 1)
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var pair: String = null
        var cnt = -1L
        counts.foreachEntry { (p, c) =>
          if (c > cnt || (c == cnt && utf8Lt(p, pair))) { pair = p; cnt = c }
        }
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, cnt))
        val gp = s" $pair "
        val gm = s" $merged "
        syms = syms.map { case (w, s0, f) =>
          if (s0.contains(pair))
            (w, (" " + s0 + " ").replace(gp, gm).replace(gp, gm).trim, f)
          else (w, s0, f)
        }
        r += 1
      }
    }
    BpeModel(
      spark.createDataFrame(merges.toSeq)
        .toDF("merge_round", "pair", "merged", "pair_count"),
      spark.createDataFrame(syms.toIndexedSeq)
        .toDF("word", "sym", "freq"))
  }

  private def trainDistributed(types0: DataFrame, rounds: Int): BpeModel = {
    val spark = types0.sparkSession
    var types = types0
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // one-row bounded collect: the argmax merge of this round. The
      // scan materializes `types`' cache, so its parent can be dropped.
      val best = pairCounts(types)
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, cnt))
        prev = types
        types = PersistTracker.trackPersist(prev.select(col("word"),
          mergeOnce(col("sym"), pair, merged).as("sym"), col("freq")))
        r += 1
      }
    }
    val mergesDf = spark.createDataFrame(merges.toSeq)
      .toDF("merge_round", "pair", "merged", "pair_count")
    BpeModel(mergesDf, types)
  }

  /** (word, bpe_len): subword count per training word — the vocab-sized
    * frame document costing joins against. */
  def tokenLengths(model: BpeModel): DataFrame =
    model.types.select(col("word"), size(split(col("sym"), " ")).as("bpe_len"))

  /**
   * Cost documents in learned subword tokens: per doc, the whitespace
   * word count and the BPE token total. Merges are never applied per
   * occurrence — docs explode to words and equi-join the vocab's
   * precomputed lengths (broadcast when it fits; words absent from the
   * training vocab — impossible when costing the training corpus
   * itself — fall back to their character count, the fully-unmerged
   * cost).
   */
  def bpeTokenCounts(model: BpeModel, docs: DataFrame, idCol: String,
      text: Column, broadcastVocab: Boolean = true): DataFrame =
    wordCosts(model, docs, Seq(col(idCol)), text, broadcastVocab)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("__len")).cast("long").as("bpe_tokens"))

  /** Every word occurrence with its subword cost `__len` (vocab-length
    * join, character fallback for unseen words) — the shared core of
    * [[bpeTokenCounts]] and [[fertilityStats]], so the fallback rule
    * cannot drift between the two audits. */
  private def wordCosts(model: BpeModel, docs: DataFrame,
      keep: Seq[Column], text: Column, broadcastVocab: Boolean): DataFrame = {
    val lens = if (broadcastVocab) broadcast(tokenLengths(model))
      else tokenLengths(model)
    docs.select(keep :+ explode(TextAnalysis.tokens(lower(text))).as("word"): _*)
      .join(lens, Seq("word"), "left")
      .withColumn("__len", coalesce(col("bpe_len"), length(col("word"))))
  }

  /**
   * Tokenizer-quality rollup: per-group fertility (BPE tokens per word)
   * and compression (characters per BPE token) of a trained model over
   * a corpus — the audit every tokenizer training ships with (public
   * knowledge: fertility/compression comparisons in the multilingual
   * tokenizer literature, e.g. Rust et al. 2021 "How Good is Your
   * Tokenizer?"), and the per-language fairness check a data card
   * quotes next to its mixture weights: a language with high fertility
   * pays more sequence length per word of content.
   *
   * Same cost shape as [[bpeTokenCounts]]: docs explode to words, the
   * vocab's precomputed subword lengths join back (broadcast when it
   * fits), one |groups|-row aggregate. Merges never touch occurrences;
   * unseen words fall back to their character count (fully unmerged).
   *
   * @return per group: `n_docs, n_words, word_chars, bpe_tokens,
   *         tokens_per_word, chars_per_token` (ratios rounded 4dp)
   */
  def fertilityStats(model: BpeModel, docs: DataFrame, idCol: String,
      text: Column, groupCols: Seq[String],
      broadcastVocab: Boolean = true): DataFrame = {
    wordCosts(model, docs, col(idCol) +: groupCols.map(col), text,
      broadcastVocab)
      .groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("word_chars"),
        sum(col("__len")).cast("long").as("bpe_tokens"))
      .withColumn("tokens_per_word",
        round(col("bpe_tokens") / col("n_words"), 4))
      .withColumn("chars_per_token",
        round(col("word_chars") / col("bpe_tokens"), 4))
  }

  /** Deterministic token-id table of a trained model: the model's
    * distinct subwords ranked in Spark's unsigned-UTF-8 string order,
    * ids dense from 0 — the id assignment a tokenizer ships alongside
    * its merges.
    *
    * Ranked by the two-pass partition-offset device (the W2 id-mint
    * trick, [[VariantLoader.mintIdsDense]]): range-partition the distinct
    * tokens, count per partition (ONE bounded collect of ≤ `numParts`
    * rows), prefix-sum the offsets driver-side, then rank WITHIN each
    * partition — ids identical to a global `row_number` window (range
    * partitioning is order-preserving across partitions) with no
    * single-partition exchange anywhere, so the same 100M-type web
    * vocabulary that justifies [[trainDistributed]] never serializes id
    * assignment through one task. The ranged frame is pinned
    * (persisted) so the count pass and the rank pass see the SAME
    * sampled range boundaries. */
  def tokenIds(model: BpeModel, numParts: Int = 0): DataFrame = {
    val toks = model.types
      .select(explode(split(col("sym"), " ")).as("token")).distinct()
    // numParts 0 = scale with the session (the Sampling.autoParts
    // rationale): ids are partitioning-invariant, only task width moves
    val parts =
      if (numParts > 0) numParts
      else math.max(
        model.types.sparkSession.sparkContext.defaultParallelism, 1)
    val ranged = PersistTracker.trackPersist(
      toks.repartitionByRange(parts, col("token"))
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L) { case (acc, (_, n)) => acc + n })
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (p, off)) =>
      when(col("__pid") === p, lit(off)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("token")
    ranged
      .withColumn("token_id",
        (offCol + row_number().over(w) - 1).cast("long"))
      .select("token", "token_id")
  }

  /** The single-partition-window form of [[tokenIds]] — kept as the
    * equivalence reference for the spec pinning the two-pass rank
    * identical; never on the serving path. */
  private[graft] def tokenIdsWindowed(model: BpeModel): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("token")
    model.types.select(explode(split(col("sym"), " ")).as("token"))
      .distinct()
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
  }

  /**
   * Tokenize documents into their learned subword TOKEN STREAMS — the
   * actual pretraining tokenization step, not just costing. Merges are
   * still never applied per occurrence: docs explode to words with
   * positions and equi-join the vocab's PRE-MERGED subword arrays
   * (broadcast when it fits), then subwords explode with sub-positions;
   * `pos` is the per-document stream position (window keyed by doc id —
   * one doc-keyed shuffle). Words outside the training vocabulary fall
   * back to their characters (fully unmerged, [[bpeTokenCounts]]'s
   * contract); fallback characters absent from the subword vocabulary
   * carry a null `token_id`.
   *
   * @return `(idCol, pos, token, token_id)`
   */
  def encodeDocs(model: BpeModel, docs: DataFrame, idCol: String,
      text: Column, broadcastVocab: Boolean = true): DataFrame = {
    val maybeB: DataFrame => DataFrame =
      if (broadcastVocab) broadcast else identity
    val subsByWord =
      model.types.select(col("word"), split(col("sym"), " ").as("__subs"))
    val words = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(lower(text))))
      .toDF(idCol, "__wp", "word")
    val subs = words
      .join(maybeB(subsByWord), Seq("word"), "left")
      .withColumn("__subs", coalesce(col("__subs"),
        split(symbolize(col("word")), " ")))
      .select(col(idCol), col("__wp"), posexplode(col("__subs")))
      .toDF(idCol, "__wp", "__sp", "token")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__wp"), col("__sp"))
    subs
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .join(maybeB(tokenIds(model)), Seq("token"), "left")
      .select(col(idCol), col("pos"), col("token"), col("token_id"))
  }

  /**
   * Encode-once / pack-many serving split — the index/serve treatment
   * the BM25 ([[Retrieval.buildIndex]] + bucketed tf) and ANN
   * ([[Similarity.buildIvfIndex]]) surfaces already have, applied to the
   * tokenizer: a pretraining pipeline encodes a corpus ONCE and packs it
   * MANY times (different capacities, epoch orders, mixtures), so the
   * encoded stream — not the raw text — is the at-rest artifact.
   *
   * Lands `encoded` (plus whatever grouping keys ride on it) as a
   * catalog table bucketed on the pack key and sorted (key, doc, pos)
   * within buckets. Every later [[packTokenStream]] over the read-back
   * table then runs with ZERO shuffles of token rows: the scan arrives
   * hash-clustered on `keyCol`, which satisfies the doc-count
   * aggregation (keyCol, idCol), the starts join, and the final
   * (keyCol, seq_id) aggregation alike — the exchanges that remain are
   * over the DOC-level count/starts frames. Spec-verified by plan shape
   * and by pack-from-artifact ≡ one-shot equality (BpeServeSpec).
   */
  def writeEncoded(encoded: DataFrame, table: String, keyCol: String,
      idCol: String, buckets: Int = 32): Unit =
    graft.sources.BucketedTables.writeBucketed(encoded, table, buckets,
      Seq(keyCol), sortCols = Seq(keyCol, idCol, "pos"))

  /** Read an encoded-stream artifact back (bucket metadata rides with
    * the catalog entry, so pack-side aggregations skip their shuffle). */
  def readEncoded(spark: SparkSession, table: String): DataFrame =
    graft.sources.BucketedTables.read(spark, table)

  /**
   * Pack encoded token streams into fixed-capacity training sequences —
   * concat-and-cut in document order within each `keyCol` partition
   * (the [[TextAnalysis.packSequences]] device, but materializing the
   * actual token content): global token position = per-doc prefix-sum
   * start + stream pos; `seq_id = ⌊global/capacity⌋`. Each output row
   * is one training sequence with its token count and an order-exact
   * content hash (md5 over the space-joined token ids, null ids as -1)
   * — the verifiable stand-in for shipping the packed id array.
   *
   * Shuffles: one doc-level aggregate for counts, the per-key
   * prefix-sum window over DOC-level rows (never tokens), and the final
   * (key, seq) aggregation. Token rows move once.
   */
  def packTokenStream(encoded: DataFrame, keyCol: String, idCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    // NOT persisted (r21 measurement): the doc-count aggregate and the
    // starts join read identical `encoded` subtrees, which Spark
    // already deduplicates via exchange reuse — an explicit cache of
    // the token stream measured strictly SLOWER (steady 1.3 s → 2.0 s
    // on q115 at sf0.1): the cache write of every token row costs more
    // than the reuse it duplicates (the Retrieval.buildIndex df/stats
    // lesson).
    val counts = encoded.groupBy(col(keyCol), col(idCol))
      .agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(idCol)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val starts = counts
      .withColumn("__start", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col(keyCol), col(idCol), col("__start"))
    encoded
      .join(starts, Seq(keyCol, idCol))
      .withColumn("__g", col("__start") + col("pos"))
      .withColumn("seq_id", floor(col("__g") / capacity).cast("long"))
      .withColumn("__p", (col("__g") % capacity).cast("long"))
      .withColumn("__tid", coalesce(col("token_id"), lit(-1L)))
      .groupBy(col(keyCol), col("seq_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        // native ascending-position join (r21): ≡ the
        // concat_ws/transform/array_sort chain (positions unique per
        // sequence), minus the interpreted per-element lambda; the id →
        // string cast moves below the aggregate as a codegen projection
        md5(graft.functions.GramExpressions.sortedKeyJoin(
          collect_list(struct(col("__p"), col("__tid").cast("string")))))
          .as("seq_hash"))
  }
}
