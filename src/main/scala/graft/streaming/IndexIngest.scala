package graft.streaming

import graft.operators.{Clustering, Dedup, Retrieval, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/**
 * Streaming maintenance of SERVED indexes and models — the piece
 * between the batch builders and a recurring-crawl pipeline: a
 * `foreachBatch` loop folds each micro-batch into an at-rest structure
 * whose readers always see a consistent, replay-safe view. Four
 * families share ONE ledgered-batch core; each supplies only its data
 * dirs (with their schemas) and the body that appends a batch or
 * cancels a deletion:
 *
 *  - BM25 — `tf/`, `df/`, `stats/` ([[Retrieval.buildIndex]]);
 *  - IVF — `assigned/` against frozen centroids
 *    ([[Similarity.buildIvfIndex]]);
 *  - PQ — `codes/` against a frozen codebook
 *    ([[Similarity.buildPqIndex]]);
 *  - mini-batch k-means — `partials/` onto frozen seeds
 *    ([[Clustering.miniBatchPartials]]).
 *
 * The served view of every family ≡ a from-scratch build over every
 * committed batch ("increment ≡ rebuild"), spec-checked on served
 * results. [[DedupIngest]] is the template (staged writes, explicit
 * crash ordering, bounded compaction); the marker files and the
 * recoverable `.next` swap live in [[MarkerLedger]], shared with it.
 *
 * == Ingest: one marker protocol ==
 *
 * Data dirs are append-only parquet, every row stamped `__batch`; the
 * `markers/` ledger carries one tiny file per batch in two states —
 * `<id>.intent`, created atomically BEFORE any append, and `<id>` (the
 * commit record), created atomically AFTER every append. Every
 * `ingest*Batch` runs:
 *
 *  1. commit marker (or a `batch-upto-<n>` watermark covering the id)
 *     → the batch is fully folded; a checkpoint REPLAY no-ops in O(1)
 *     (no index scan on the hot path).
 *  2. intent without commit → a previous attempt crashed inside its
 *     appends (a parquet job commit is not atomic across files); the
 *     batch's rows are purged from each data dir by a filtered
 *     rewrite under the recoverable swap — paid only on this rare path.
 *  3. ids a committed deletion tombstoned for this batch's horizon are
 *     dropped; an empty remainder still COMMITS, so replays stay O(1)
 *     and no intent dangles.
 *  4. intent, the family's appends, commit, drop intent.
 *
 * Readers take the committed-marker set as the source of truth: rows
 * whose `__batch` lacks a commit (a crashed attempt not yet replayed,
 * an in-flight batch) are filtered out of every served frame. Net:
 * exactly-once contents and always-consistent reads under any
 * crash/replay interleaving.
 *
 * Contract: an index dir is bound to ONE streaming checkpoint lineage —
 * batch ids are the replay identity, so pointing a NEW stream (fresh
 * checkpoint, ids restarting at 0) at an existing dir would read old
 * commit markers as "already ingested" and silently drop data. Start a
 * new dir for a new lineage (or call the `ingest*Batch` verbs with
 * caller-managed ids). Doc/vector ids must be disjoint across batches
 * (as for [[Retrieval.mergeIndex]]) — gate recurring feeds through
 * [[DedupIngest]] first.
 *
 * == Deletion: the same ledger in its own namespace ==
 *
 * Every `delete*` takes a fresh caller-managed `deleteId` with markers
 * `del-<id>.intent` / `del-<id>`, and stamps the rows it appends
 * `-(id) - 2` — distinct from every ingest id (≥ 0) and from the
 * compaction stamp (−1). The one deletion protocol:
 *
 *  1. `del-<id>` committed → O(1) no-op that also drops any staged
 *     snapshot a crash in the commit window left behind.
 *  2. intent without commit → purge the crashed attempt's stamped rows
 *     and its tombstones.
 *  3. intent; the family's cancellation — BM25 and k-means append
 *     NEGATIVE partials derived from a `deletes/<id>` snapshot staged
 *     by rename (the evidence destroys itself, so it is frozen first);
 *  4. TOMBSTONES `(id, horizon = highest batch the ledger has seen)`,
 *     so a batch that crashed BEFORE the deletion cannot resurrect the
 *     ids when it replays after;
 *  5. the family's physical rewrite (BM25 `tf/`, IVF `assigned/`, PQ
 *     `codes/`); commit, drop intent, drop the snapshot.
 *
 * == Single-writer contract ==
 *
 * Compaction AND deletion are filtered read→rewrite→swap operations
 * over the data dirs: an append landing between a rewrite's read and
 * its install would be silently lost, and a batch that passed its
 * tombstone check before a deletion's intent landed would fold
 * tombstoned rows. So every `compact*` and `delete*` MUST run from the
 * ingest thread between batches (the `foreachBatch` body is the
 * natural place; the `compactEvery` hooks already do) — never
 * concurrently with an in-flight ingest of the same dir. Every mutator
 * holds the dir's [[LedgerLock]], so a violation fails fast.
 *
 * == Compaction ==
 *
 * Per-batch files and partials accumulate; `compact*` fold them on the
 * caller's cadence: the tf/assigned/codes/partials tails fold through
 * the manifest-logged size-tiered [[DedupIngest.foldCorpusTail]] (large
 * generations never rewritten; readers run its recovery before
 * listing, so a crashed fold can never serve duplicates); BM25's
 * vocab-sized df/stats partials collapse to one summed partial under
 * the reserved stamp −1 (always committed) via the recoverable swap.
 * Every compaction also sweeps the snapshots of committed deletions.
 * The ledger's FACTS are permanent — late replays of folded batches
 * still no-op — but the individual ingest markers fold into a
 * `batch-upto-<n>` watermark ([[compactMarkers]]): a long-lived stream
 * would otherwise mint one marker per micro-batch forever and every
 * read's marker listing would grow with stream lifetime rather than
 * index size.
 */
object IndexIngest {

  private val CommittedBatch = -1L

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** One append-only data dir of a family, relative to the index
    * root. */
  private case class DataDir(name: String, schema: StructType) {
    def path(dir: String): String = s"$dir/$name"
    def read(spark: SparkSession, dir: String): DataFrame =
      DedupIngest.readOrEmpty(spark, path(dir), schema)
    def append(dir: String, rows: DataFrame): Unit =
      rows.write.mode("append").parquet(path(dir))
    /** Replace the dir by `f` of its rows (recoverable swap; no-op when
      * the dir is absent). */
    def rewrite(spark: SparkSession, dir: String)(
        f: DataFrame => DataFrame): Unit =
      MarkerLedger.swap(spark, path(dir))(out =>
        f(spark.read.schema(schema).parquet(path(dir))).write.parquet(out))
    def purge(spark: SparkSession, dir: String, keep: Column): Unit =
      rewrite(spark, dir)(_.filter(keep))
  }

  private val Tf = DataDir("tf", schemaOf("__id" -> StringType,
    "__t" -> StringType, "__tf" -> LongType, "__dl" -> LongType,
    "__batch" -> LongType))
  private val Df = DataDir("df", schemaOf("__t" -> StringType,
    "__df" -> LongType, "__batch" -> LongType))
  private val Stats = DataDir("stats", schemaOf("__batch" -> LongType,
    "__n" -> LongType, "__dlsum" -> LongType))
  private val Assigned = DataDir("assigned", schemaOf("__vid" -> LongType,
    "__cvec" -> ArrayType(FloatType), "__cell" -> LongType,
    "__batch" -> LongType))
  private val Codes = DataDir("codes", schemaOf("__vid" -> LongType,
    "__j" -> IntegerType, "__code" -> IntegerType, "__batch" -> LongType))
  /** `__h` is the VALIDITY HORIZON: a partial participates in the state
    * fold for `upTo` only when `__h < upTo`. Ingest partials carry
    * `__h = batchId`; a DELETION's negative partials carry the ledger's
    * max seen batch at deletion time, so a crashed batch REPLAYING later
    * reconstructs exactly the state it first assigned against (the
    * deletion didn't exist then), while the final served state
    * (`upTo = ∞`) includes every committed cancellation. */
  private val Partials = DataDir("partials", schemaOf("__cl" -> IntegerType,
    "__n" -> LongType, "__s" -> ArrayType(DoubleType),
    "__batch" -> LongType, "__h" -> LongType))
  private val Tombstones = DataDir("tombstones", schemaOf("__id" -> StringType,
    "__covered" -> LongType, "__del" -> LongType))

  private val CentroidSchema = schemaOf("cell_id" -> LongType,
    "cvec" -> ArrayType(FloatType))
  private val CodebookSchema = schemaOf("__j" -> IntegerType,
    "__code" -> IntegerType, "cvec" -> ArrayType(FloatType))
  private val KmSeedSchema = schemaOf("__cl" -> IntegerType,
    "__s" -> ArrayType(DoubleType))
  private val KmSnapSchema = schemaOf("__vid" -> LongType,
    "__v" -> ArrayType(FloatType), "__b" -> LongType)

  /** NULL-safe "not among `ids`" (NOT(in-list) alone evaluates NULL on
    * a null id, and a filter would drop the row). */
  private def notIn(c: Column, ids: Seq[Any]): Column =
    !coalesce(c.isInCollection(ids), lit(false))

  // ------------------------------------------------------------------
  // Single-writer lock — machinery shared with DedupIngest, see
  // [[LedgerLock]]; every mutator below holds the dir's lock. These
  // aliases keep the lock API discoverable next to the operations it
  // guards.
  // ------------------------------------------------------------------

  val LockStaleMsKey: String = LedgerLock.LockStaleMsKey
  type ConcurrentWriterException = LedgerLock.ConcurrentWriterException
  def breakLedgerLock(spark: SparkSession, dir: String): Unit =
    LedgerLock.break(spark, dir)

  private def withLedgerLock[T](spark: SparkSession, dir: String)
      (body: => T): T = LedgerLock.withLock(spark, dir)(body)

  // ------------------------------------------------------------------
  // Marker ledger
  // ------------------------------------------------------------------

  /** Deletions stamp their rows `-(id) - 2` (object doc). */
  private def delStamp(deleteId: Long): Long = -deleteId - 2

  /** Marker names in the ledger (commit state only). */
  private def markerNames(spark: SparkSession, dir: String): Seq[String] =
    MarkerLedger.names(spark, dir).filterNot(_.endsWith(".intent"))

  /** Ids of the committed deletions (`del-<id>` markers). */
  private def committedDeletes(spark: SparkSession, dir: String): Seq[Long] =
    markerNames(spark, dir).filter(_.startsWith("del-"))
      .flatMap(_.drop(4).toLongOption)

  /** The committed-visibility predicate over a batch-stamp column:
    * inside the watermark's [0, n], OR carrying an individual marker —
    * a literal list of every historical id would grow with stream
    * LIFETIME, not index size. `ingestOnly` restricts the tail to
    * non-negative ingest stamps (excludes deletion/compaction stamps).
    *
    * Watermark and tail come from ONE listing: with two, a concurrent
    * [[compactMarkers]] fold (new watermark created, folded markers
    * deleted, in between) could hand a lock-free reader the OLD
    * watermark with the POST-fold tail and silently drop committed
    * batches. One listing is atomic enough: a fold never
    * removes a marker without the covering watermark already existing,
    * so any single snapshot may only over-include, never
    * under-include. */
  private def committedPred(spark: SparkSession, dir: String,
      c: Column, ingestOnly: Boolean = false): Column = {
    val names = markerNames(spark, dir)
    val w = MarkerLedger.watermark(names)
    val tail = (markerTailIds(names) :+ CommittedBatch)
      .filter(id => !ingestOnly || id >= 0)
    (c >= 0L && c <= w) || c.isInCollection(tail)
  }

  /** Batch-stamp ids carried by INDIVIDUAL markers in `names` (bare
    * ingest ids and `del-<n>` deletion stamps) — the tail above the
    * watermark plus permanent deletion markers. */
  private def markerTailIds(names: Seq[String]): Seq[Long] =
    names.flatMap { n =>
      if (n.startsWith("del-")) n.drop(4).toLongOption.map(delStamp)
      else n.toLongOption
    }

  /** Fold the contiguous committed prefix of INGEST batch markers into
    * ONE `batch-upto-<n>` watermark file ([[MarkerLedger.fold]]): the
    * watermark preserves both ledger facts the individual markers
    * carried — replay no-ops and committed visibility
    * ([[committedPred]]). Folded markers and their leftover intents (an
    * intent at or below the watermark is by definition a committed
    * batch's leftover, even when its commit marker went in an earlier
    * crashed pass) are deleted after. Deletion markers (`del-*`) are
    * PERMANENT — deletion volume is takedown-sized, not
    * stream-lifetime-sized. Runs from the ingest thread; the stream
    * loops call it after every batch. */
  def compactMarkers(spark: SparkSession, dir: String): Unit =
      withLedgerLock(spark, dir) {
    val names = MarkerLedger.names(spark, dir)
    val (f, root) = DedupIngest.fs(spark, s"$dir/markers")
    // ingest ids carrying a `<id><suffix>` marker (`del-*` never parse)
    def ids(suffix: String) = names.filter(_.endsWith(suffix))
      .flatMap(_.stripSuffix(suffix).toLongOption).filter(_ >= 0)
    MarkerLedger.fold(f, root, names,
      commitIds = ids("").toSet, commitName = _.toString,
      retireBelow = n => ids(".intent").filter(_ <= n).map(i => s"$i.intent"))
  }

  /** Highest ingest batch id the ledger has SEEN (commit or intent) —
    * the coverage horizon a deletion records so replays of earlier
    * batches know to re-apply it. */
  private def maxSeenBatch(spark: SparkSession, dir: String): Long = {
    val names = MarkerLedger.names(spark, dir)
    (names.filterNot(_.startsWith("del-")).map(_.stripSuffix(".intent"))
      .flatMap(_.toLongOption) :+ MarkerLedger.watermark(names)).max
  }

  /** Ids a replaying batch must drop: tombstones of COMMITTED deletions
    * whose coverage horizon includes `batchId`. Bounded by deletion
    * volume (takedown lists, not corpus scale) — one small collect. */
  private def tombstonedIds(spark: SparkSession, dir: String,
      batchId: Long): Seq[String] = {
    // a crashed delete-replay tombstone rewrite must be completed, not
    // read as "no tombstones" — that would let a replaying batch
    // resurrect every committed deletion's docs
    DedupIngest.recoverSwap(spark, Tombstones.path(dir))
    val (f, p) = DedupIngest.fs(spark, Tombstones.path(dir))
    if (!f.exists(p)) return Seq.empty
    val dels = committedDeletes(spark, dir)
    if (dels.isEmpty) return Seq.empty
    spark.read.schema(Tombstones.schema).parquet(Tombstones.path(dir))
      .filter(col("__covered") >= batchId && col("__del").isInCollection(dels))
      .select("__id").distinct().collect().map(_.getString(0)).toSeq
  }

  // ------------------------------------------------------------------
  // The ledgered-batch core: one ingest, one delete, one stream loop,
  // one compaction shell
  // ------------------------------------------------------------------

  /** The ingest protocol (object doc, steps 1–4) for a family whose
    * data dirs are `dirs`; `append` writes the tombstone-filtered batch
    * into them. Returns false on a replay of a committed batch (an O(1)
    * no-op) or when nothing is left to fold. */
  private def ingest(batch: DataFrame, batchId: Long, dir: String,
      idCol: String, dirs: Seq[DataDir])(append: DataFrame => Unit)
      : Boolean = withLedgerLock(batch.sparkSession, dir) {
    val spark = batch.sparkSession
    require(batchId >= 0, s"batchId must be non-negative, got $batchId" +
      " (negative stamps are reserved for deletions/compaction)")
    if (MarkerLedger.has(spark, dir, batchId.toString) ||
      batchId <= MarkerLedger.watermark(markerNames(spark, dir))) return false
    if (MarkerLedger.has(spark, dir, s"$batchId.intent"))
      dirs.foreach(_.purge(spark, dir, col("__batch") =!= batchId))
    val tomb = tombstonedIds(spark, dir, batchId)
    val live = if (tomb.isEmpty) batch
      else batch.filter(notIn(col(idCol).cast("string"), tomb))
    val folds = !live.isEmpty
    if (folds) {
      MarkerLedger.put(spark, dir, s"$batchId.intent")
      append(live)
    }
    MarkerLedger.commit(spark, dir, batchId.toString)
    folds
  }

  /** Where a deletion stages its snapshot. */
  private def stageOf(dir: String, deleteId: Long): String =
    s"$dir/deletes/$deleteId"

  /** The deletion protocol (object doc, steps 1–5). `stamped` are the
    * data dirs the family appends `-(id) - 2`-stamped rows to;
    * `cancel(stamp, horizon)` appends them and returns the ids to
    * tombstone (an `__id` string column); `rewrite` then removes the
    * family's rows physically. Returns false on a replay of a
    * committed deletion. */
  private def delete(spark: SparkSession, dir: String, deleteId: Long,
      stamped: Seq[DataDir] = Nil)(cancel: (Long, Long) => DataFrame)
      (rewrite: => Unit): Boolean = withLedgerLock(spark, dir) {
    require(deleteId >= 0, s"deleteId must be non-negative, got $deleteId")
    val m = s"del-$deleteId"
    val (f, stage) = DedupIngest.fs(spark, stageOf(dir, deleteId))
    if (MarkerLedger.has(spark, dir, m)) {
      // the snapshot holds the forgotten rows: it must not persist at
      // rest past a crash between the commit and the cleanup
      if (f.exists(stage)) f.delete(stage, true)
      MarkerLedger.drop(spark, dir, s"$m.intent")
      return false
    }
    val stamp = delStamp(deleteId)
    if (MarkerLedger.has(spark, dir, s"$m.intent")) {
      stamped.foreach(_.purge(spark, dir, col("__batch") =!= stamp))
      Tombstones.purge(spark, dir, col("__del") =!= deleteId)
    }
    MarkerLedger.put(spark, dir, s"$m.intent")
    val horizon = maxSeenBatch(spark, dir)
    Tombstones.append(dir, cancel(stamp, horizon)
      .select(col("__id"), lit(horizon).as("__covered"),
        lit(deleteId).as("__del"))
      .coalesce(1))
    rewrite
    MarkerLedger.commit(spark, dir, m)
    if (f.exists(stage)) f.delete(stage, true)
    true
  }

  /** Promote a crashed attempt's `<stage>.tmp` when no snapshot exists
    * and its job committed (`_SUCCESS`); true when a snapshot exists
    * after. */
  private def promoteStage(spark: SparkSession, stage: String): Boolean = {
    val (f, sp) = DedupIngest.fs(spark, stage)
    val tmp = new org.apache.hadoop.fs.Path(stage + ".tmp")
    if (!f.exists(sp) &&
        f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      f.mkdirs(sp.getParent)
      DedupIngest.renameOrThrow(f, tmp, sp, "stage promote")
    }
    f.exists(sp)
  }

  /** Write a snapshot aside to `<stage>.tmp` and RENAME it into place,
    * so its existence implies completeness (a crash mid-write cannot
    * leave a partial snapshot a replay would trust). */
  private def publishStage(spark: SparkSession, stage: String)(
      write: String => Unit): Unit = {
    val (f, sp) = DedupIngest.fs(spark, stage)
    val tmp = new org.apache.hadoop.fs.Path(stage + ".tmp")
    if (f.exists(tmp)) f.delete(tmp, true)
    write(tmp.toString)
    if (f.exists(sp)) f.delete(sp, true)
    f.mkdirs(sp.getParent)
    DedupIngest.renameOrThrow(f, tmp, sp, "stage publish")
  }

  /** The `foreachBatch` loop under every `start*`: fold the batch, fold
    * the marker ledger, compact on the `compactEvery` cadence (batch ids
    * persist in the checkpoint, so the cadence survives restarts). */
  private def stream(src: DataFrame, dir: String, checkpoint: String,
      availableNow: Boolean, compactEvery: Option[Int])(
      fold: (DataFrame, Long) => Boolean)(
      compact: SparkSession => Unit): StreamingQuery = {
    require(compactEvery.forall(_ > 0), "compactEvery must be positive")
    val writer = src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId)
        compactMarkers(batch.sparkSession, dir)
        compactEvery.foreach { every =>
          if ((batchId + 1) % every == 0) compact(batch.sparkSession)
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The compaction shell under every `compact*`: the family's `fold`
    * under the lock, then the sweep of committed deletions' staged
    * snapshots — they hold the forgotten rows, and a crash in a
    * deletion's commit window orphans one that is never replayed. */
  private def compacting(spark: SparkSession, dir: String)(
      fold: => Unit): Unit = withLedgerLock(spark, dir) {
    fold
    val (f, root) = DedupIngest.fs(spark, s"$dir/deletes")
    if (f.exists(root)) {
      val done = committedDeletes(spark, dir).toSet
      f.listStatus(root).foreach { s =>
        if (s.getPath.getName.stripSuffix(".tmp").toLongOption.exists(done))
          f.delete(s.getPath, true)
      }
    }
  }

  // ------------------------------------------------------------------
  // BM25
  // ------------------------------------------------------------------

  /** Fold one micro-batch into the BM25 dirs (object doc). `tf/` holds
    * per-(doc, term) frequencies with doc length; `df/` PER-BATCH
    * document-frequency partials; `stats/` per-batch
    * `(n_docs, dl_sum)`, the length sum stored directly from the
    * builder's exact long `__dlsum` (deletions cancel it with exact
    * negatives). Returns false on a replay of a committed batch or an
    * empty batch. */
  def ingestBm25Batch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): Boolean =
    ingest(batch, batchId, dir, idCol, Seq(Tf, Df, Stats)) { live =>
      val idx = Retrieval.buildIndex(live, idCol, textCol)
      try {
        Df.append(dir, idx.df.select(col("__t"), col("__df").cast("long"),
          lit(batchId).as("__batch")))
        Stats.append(dir, idx.stats.select(lit(batchId).as("__batch"),
          col("__n").cast("long"), col("__dlsum").cast("long")))
        Tf.append(dir, idx.tf.select(col("__id").cast("string"), col("__t"),
          col("__tf").cast("long"), col("__dl").cast("long"),
          lit(batchId).as("__batch")))
      } finally Dedup.releasePersisted()
    }

  /** The served view: exactly [[Retrieval.buildIndex]] over every
    * committed document — exact global df (per-term sum of disjoint
    * batches' partials) and exact corpus stats (integer sums, one final
    * division). Doc ids serve as strings (at-rest schema stability
    * across feeds). */
  def readBm25(spark: SparkSession, dir: String): Retrieval.Bm25Index = {
    DedupIngest.recoverFold(spark, Tf.path(dir))
    val vis = committedPred(spark, dir, col("__batch"))
    val tf = Tf.read(spark, dir).filter(vis)
    val df = Df.read(spark, dir).filter(vis)
      .groupBy("__t").agg(sum("__df").as("__df"))
    val stats = Stats.read(spark, dir).filter(vis)
      .agg(sum("__n").as("__n"),
        (sum("__dlsum").cast("double") / sum("__n")).as("__avgdl"),
        coalesce(sum("__dlsum"), lit(0L)).cast("long").as("__dlsum"))
    Retrieval.Bm25Index(tf.drop("__batch"), df, stats)
  }

  /** Maintain the BM25 dirs from a streaming document source. */
  def startBm25(docs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20): StreamingQuery =
    stream(docs, dir, checkpoint, availableNow, compactEvery)(
      ingestBm25Batch(_, _, dir, idCol, textCol))(
      compactBm25(_, dir, smallFileBytes))

  /** Fold the BM25 dirs back to bounded size: tf through the tail fold
    * (file-level — uncommitted rows ride along, stay reader-invisible,
    * and are purged by their batch's replay); df/stats partials
    * collapse to one committed partial each (stamp −1), dropping
    * uncommitted rows in passing. */
  def compactBm25(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20): Unit = compacting(spark, dir) {
    val vis = committedPred(spark, dir, col("__batch"))
    Df.rewrite(spark, dir)(_.filter(vis)
      .groupBy("__t").agg(sum("__df").as("__df"))
      .select(col("__t"), col("__df"), lit(CommittedBatch).as("__batch"))
      .coalesce(1))
    Stats.rewrite(spark, dir)(_.filter(vis)
      .agg(sum("__n").as("__n"), sum("__dlsum").as("__dlsum"))
      .select(lit(CommittedBatch).as("__batch"), col("__n"), col("__dlsum"))
      .coalesce(1))
    DedupIngest.foldCorpusTail(spark, Tf.path(dir), smallFileBytes)
  }

  /**
   * Targeted document deletion — right-to-be-forgotten, takedown,
   * retraction — under the deletion protocol (object doc). The
   * negative df/stats corrections can only be derived while the doomed
   * tf rows still exist, so they are snapshotted to `deletes/<id>`
   * first and derived from that frozen copy; then tf is rewritten
   * without the docs.
   *
   * The snapshot is REFRESHED on every attempt: a replay may hold a
   * stale snapshot (its rows already purged from tf) while OTHER rows
   * of the doomed ids were re-committed by a batch replay in between —
   * the union of the snapshot with tf's current rows covers both, and
   * distinct() collapses the overlap (rows are deterministic per
   * (batch, id, term)). A half-written refresh is promoted only if its
   * job committed (`_SUCCESS`); otherwise it is discarded — tf still
   * holds the rows in that case. The negatives derive from the
   * committed slice only (uncommitted rows have no positive partials
   * to cancel).
   *
   * Serving needs no special case: the committed negative partials
   * cancel the deleted docs' contributions exactly, so [[readBm25]] ≡ a
   * rebuild without them. A crash between the tf rewrite and the
   * commit leaves a transient where candidates are already gone but df
   * still counts the deleted docs — healed by the replay, the same
   * reader-visible window class as ingest.
   */
  def deleteBm25Docs(spark: SparkSession, dir: String, ids: Seq[String],
      deleteId: Long): Boolean = {
    require(ids.nonEmpty, "need at least one doc id to delete")
    import spark.implicits._
    delete(spark, dir, deleteId, Seq(Df, Stats)) { (stamp, _) =>
      val stage = stageOf(dir, deleteId)
      DedupIngest.recoverFold(spark, Tf.path(dir))
      val vis = committedPred(spark, dir, col("__batch"))
      promoteStage(spark, stage)
      val prior = DedupIngest.readOrEmpty(spark, stage, Tf.schema)
      val current = Tf.read(spark, dir).filter(col("__id").isInCollection(ids))
      publishStage(spark, stage)(
        prior.unionByName(current).distinct().write.parquet(_))
      val removed = spark.read.schema(Tf.schema).parquet(stage).filter(vis)
      Df.append(dir, removed.groupBy("__t")
        .agg((-countDistinct("__id")).as("__df"))
        .select(col("__t"), col("__df").cast("long"), lit(stamp).as("__batch")))
      Stats.append(dir, removed.groupBy("__id").agg(first("__dl").as("__dl"))
        .agg(coalesce(-count(lit(1)), lit(0L)).as("__n"),
          coalesce(-sum("__dl"), lit(0L)).as("__dlsum"))
        .select(lit(stamp).as("__batch"), col("__n").cast("long"),
          col("__dlsum").cast("long")))
      ids.toDF("__id")
    } (Tf.purge(spark, dir, notIn(col("__id"), ids)))
  }

  // ------------------------------------------------------------------
  // IVF
  // ------------------------------------------------------------------

  /** Pin the frozen centroid set the ingest assigns against — cell
    * assignment must be a pure function of (vector, frozen centroids)
    * for increments to equal rebuilds. Overwrite is idempotent;
    * re-bootstrapping with DIFFERENT centroids after ingest has begun is
    * a re-assignment event, not a bootstrap — the assigned dir must be
    * rebuilt with them (batch cadence, [[Similarity.addToIvfIndex]]). */
  def bootstrapIvf(spark: SparkSession, dir: String,
      centroids: Seq[(Long, Seq[Float])]): Unit = {
    require(centroids.nonEmpty, "need at least one centroid")
    import spark.implicits._
    centroids.toDF("cell_id", "cvec")
      .select(col("cell_id").cast("long"),
        col("cvec").cast(ArrayType(FloatType)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  private def readCentroids(spark: SparkSession, dir: String)
      : Seq[(Long, Seq[Float])] =
    spark.read.schema(CentroidSchema).parquet(s"$dir/centroids")
      .orderBy("cell_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq

  /** Assign one micro-batch against the bootstrapped centroids and
    * append (object doc). Vector ids must be long-castable (ranking
    * ties break on the id — string order would reorder numeric
    * ids). */
  def ingestIvfBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    ingest(batch, batchId, dir, idCol, Seq(Assigned)) { live =>
      val cents = readCentroids(batch.sparkSession, dir)
      Assigned.append(dir, Similarity.buildIvfIndex(live, cents.size, idCol,
          vecCol, cents)
        .assigned.select(col(idCol).cast("long").as("__vid"),
          col("__cvec").cast(ArrayType(FloatType)),
          col("__cell").cast("long"), lit(batchId).as("__batch")))
    }

  /** The served view: identical to [[Similarity.buildIvfIndex]] over
    * every committed vector with the bootstrapped centroids. */
  def readIvf(spark: SparkSession, dir: String,
      idCol: String = "vec_id"): Similarity.IvfIndex = {
    DedupIngest.recoverFold(spark, Assigned.path(dir))
    Similarity.IvfIndex(
      Assigned.read(spark, dir)
        .filter(committedPred(spark, dir, col("__batch")))
        .select(col("__vid").as(idCol), col("__cvec"), col("__cell")),
      readCentroids(spark, dir))
  }

  /** Maintain the IVF dirs from a streaming vector source. */
  def startIvf(vecs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20): StreamingQuery =
    stream(vecs, dir, checkpoint, availableNow, compactEvery)(
      ingestIvfBatch(_, _, dir, idCol, vecCol))(
      compactIvf(_, dir, smallFileBytes))

  /** Fold the assigned tail (size-tiered, manifest-logged). */
  def compactIvf(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20): Unit = compacting(spark, dir) {
    DedupIngest.foldCorpusTail(spark, Assigned.path(dir), smallFileBytes)
  }

  /** Targeted vector deletion: the assigned dir is self-contained (no
    * derived partials), so the cancellation is the tombstones alone and
    * the rewrite drops the vectors (object doc). */
  def deleteIvfVecs(spark: SparkSession, dir: String, ids: Seq[Long],
      deleteId: Long): Boolean = deleteVecs(spark, dir, ids, deleteId, Assigned)

  /** IVF and PQ deletion: tombstones, then one filtered rewrite of the
    * family's vector dir. */
  private def deleteVecs(spark: SparkSession, dir: String, ids: Seq[Long],
      deleteId: Long, vecs: DataDir): Boolean = {
    require(ids.nonEmpty, "need at least one vec id to delete")
    import spark.implicits._
    delete(spark, dir, deleteId)((_, _) => ids.map(_.toString).toDF("__id"))(
      vecs.purge(spark, dir, notIn(col("__vid"), ids)))
  }

  // ------------------------------------------------------------------
  // PQ
  // ------------------------------------------------------------------

  /** Pin the frozen PQ codebook the ingest encodes against — the PQ
    * analogue of [[bootstrapIvf]]: encoding is a pure function of
    * (vector, codebook), so appended code rows equal a rebuild's.
    * Re-bootstrapping with a DIFFERENT codebook after ingest began is a
    * re-encoding event (batch cadence), not a bootstrap. */
  def bootstrapPq(spark: SparkSession, dir: String,
      codebook: Seq[Seq[Seq[Float]]]): Unit = {
    require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
      "need a non-empty m x codebookSize codebook")
    import spark.implicits._
    (for { j <- codebook.indices; c <- codebook(j).indices }
      yield (j, c, codebook(j)(c))).toDF("__j", "__code", "cvec")
      .select(col("__j").cast("int"), col("__code").cast("int"),
        col("cvec").cast(ArrayType(FloatType)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
  }

  private def readCodebook(spark: SparkSession,
      dir: String): Seq[Seq[Seq[Float]]] = {
    val rows = spark.read.schema(CodebookSchema).parquet(s"$dir/codebook")
      .orderBy("__j", "__code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toSeq))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
  }

  /** Encode one micro-batch against the bootstrapped codebook and
    * append its code rows (object doc) — the codes dir is
    * self-contained, exactly the IVF `assigned` shape. Vector ids must
    * be long-castable. */
  def ingestPqBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    ingest(batch, batchId, dir, idCol, Seq(Codes)) { live =>
      val cb = readCodebook(batch.sparkSession, dir)
      val add = Similarity.buildPqIndex(live, cb.size, cb.head.size, idCol,
        vecCol, cb)
      try Codes.append(dir, add.codes.select(
          col(idCol).cast("long").as("__vid"), col("__j").cast("int"),
          col("__code").cast("int"), lit(batchId).as("__batch")))
      finally Dedup.releasePersisted()
    }

  /** The served view: identical to [[Similarity.buildPqIndex]] over
    * every committed vector with the bootstrapped codebook. */
  def readPq(spark: SparkSession, dir: String,
      idCol: String = "vec_id"): Similarity.PqIndex = {
    DedupIngest.recoverFold(spark, Codes.path(dir))
    Similarity.PqIndex(
      Codes.read(spark, dir)
        .filter(committedPred(spark, dir, col("__batch")))
        .select(col("__vid").as(idCol), col("__j"), col("__code")),
      readCodebook(spark, dir))
  }

  /** Maintain the PQ codes dir from a streaming vector source. */
  def startPq(vecs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20): StreamingQuery =
    stream(vecs, dir, checkpoint, availableNow, compactEvery)(
      ingestPqBatch(_, _, dir, idCol, vecCol))(
      compactPq(_, dir, smallFileBytes))

  /** Fold the codes tail (size-tiered, manifest-logged). */
  def compactPq(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20): Unit = compacting(spark, dir) {
    DedupIngest.foldCorpusTail(spark, Codes.path(dir), smallFileBytes)
  }

  /** Targeted PQ vector deletion — [[deleteIvfVecs]]' codes-dir twin. */
  def deletePqVecs(spark: SparkSession, dir: String, ids: Seq[Long],
      deleteId: Long): Boolean = deleteVecs(spark, dir, ids, deleteId, Codes)

  // ------------------------------------------------------------------
  // Mini-batch k-means (streamed model maintenance)
  // ------------------------------------------------------------------

  /** Pin the frozen seed state the mini-batch stream accumulates onto —
    * the k-means analogue of [[bootstrapIvf]]. Seeds are centroid-SUM
    * vectors on [[Clustering]]'s integer-quantized grid (normally
    * [[Clustering.seedSums]] of a reference slice); the evolving state
    * is always `seed + Σ committed batch partials`, so an emptied
    * cluster degrades to its seed exactly as the batch trainer's
    * empty-cluster policy. */
  def bootstrapKmeans(spark: SparkSession, dir: String,
      seeds: Seq[Seq[Double]]): Unit = {
    require(seeds.nonEmpty, "need at least one seed centroid")
    import spark.implicits._
    seeds.zipWithIndex.map { case (s, cl) => (cl, s) }.toDF("__cl", "__s")
      .select(col("__cl").cast("int"),
        col("__s").cast(ArrayType(DoubleType)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seeds")
  }

  /** Accumulated centroid-sum state from the seeds plus every COMMITTED
    * partial visible at `upTo` — the distributive fold (posexplode →
    * per-(cluster, dim) integer sum → k·dim bounded collect); all terms
    * are exact small-integer doubles, so the fold is order-free. */
  private def kmeansStateSums(spark: SparkSession, dir: String,
      upTo: Long): Seq[Seq[Double]] = {
    DedupIngest.recoverFold(spark, Partials.path(dir))
    val seeds = spark.read.schema(KmSeedSchema).parquet(s"$dir/seeds")
    // committed AND horizon-visible: ingest partials fold when their
    // batch id < upTo (coalesce covers pre-__h rows), deletion partials
    // when they were committed before batch `upTo` was first ingested
    val partials = Partials.read(spark, dir)
      .filter(committedPred(spark, dir, col("__batch")) &&
        coalesce(col("__h"), col("__batch")) < upTo)
      .select(col("__cl"), col("__s"))
    val folded = seeds.select(col("__cl"), col("__s"))
      .unionByName(partials)
      .select(col("__cl"), posexplode(col("__s")).as(Seq("__j", "__v")))
      .groupBy("__cl", "__j").agg(sum(col("__v")).as("__v"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    folded.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
  }

  /**
   * Fold one micro-batch into the mini-batch k-means state (object
   * doc): assign the batch against the state accumulated from STRICTLY
   * EARLIER committed batches (so a crashed batch replays against
   * exactly the state it first saw) and append the per-cluster integer
   * partials. Unlike the index families the ingest order is SEMANTIC
   * here — batch t's assignment depends on state t−1 — so the
   * single-writer contract additionally means monotone batch ids,
   * which is what foreachBatch delivers.
   *
   * A batch whose COMMIT marker is lost is outside the contract: its
   * positives were already cancelled by any committed deletion's
   * negatives, so re-ingesting it would double-subtract — commit
   * markers are never deleted.
   */
  def ingestKmeansBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Boolean =
    ingest(batch, batchId, dir, idCol, Seq(Partials)) { live =>
      val state = kmeansStateSums(batch.sparkSession, dir, upTo = batchId)
      Partials.append(dir, Clustering.miniBatchPartials(live, state, idCol,
          vecCol)
        .withColumn("__batch", lit(batchId))
        .withColumn("__h", lit(batchId))
        .coalesce(1))
    }

  /** The served model: centroid-sum state over every committed batch —
    * feed straight into [[Clustering.assignClusters]]. */
  def readKmeansSums(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    kmeansStateSums(spark, dir, upTo = Long.MaxValue)

  /** Maintain the mini-batch k-means state from a streaming vector
    * source. */
  def startKmeans(vecs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20): StreamingQuery =
    stream(vecs, dir, checkpoint, availableNow, compactEvery)(
      ingestKmeansBatch(_, _, dir, idCol, vecCol))(
      compactKmeans(_, dir, smallFileBytes))

  /** Fold the partials tail (size-tiered, manifest-logged). */
  def compactKmeans(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20): Unit = compacting(spark, dir) {
    DedupIngest.foldCorpusTail(spark, Partials.path(dir), smallFileBytes)
  }

  /**
   * Right-to-be-forgotten for the streamed k-means state under the
   * deletion protocol (object doc): [[ingestKmeansBatch]]'s integer
   * partials otherwise retain deleted docs' contributions forever. The
   * state holds no per-doc rows, so the caller supplies the
   * to-be-forgotten vectors with the batch each was ingested in —
   * `docs = (idCol, vecCol, batchCol)`, e.g. straight from the
   * [[DedupIngest]] corpus store:
   *
   *  1. stage the (id, vector, batch) snapshot to `deletes/<id>`
   *     (rename-into-place — replays reuse the frozen input even if the
   *     caller's frame changed), minus ids a committed deletion already
   *     forgot (double-delete is a no-op, not a double-subtraction);
   *  2. per affected COMMITTED batch `b` (an uncommitted batch
   *     contributed nothing to cancel), RE-DERIVE each doc's original
   *     cluster assignment against the state AS OF ingest —
   *     `kmeansStateSums(upTo = b)`, exact because the `__h` horizon
   *     rule excludes every deletion committed after `b` was first
   *     ingested and assignment is a pure function of (vector, state);
   *  3. append the NEGATED integer partials under this deletion's stamp
   *     with `__h =` the ledger's max seen batch: integer sums make the
   *     cancellation exact, and the horizon keeps crashed batches'
   *     replays assigning against their original state;
   *  4. tombstone EVERY snapshot id, so a batch that crashed before the
   *     deletion drops them when it replays after.
   *
   * Deleting an id that was never ingested with the claimed batch is a
   * caller error the state cannot detect — the contract is "these rows
   * were in that batch", exactly [[deleteBm25Docs]]' trust in its
   * snapshot.
   *
   * SEMANTICS: the cancellation is exact at the SUM level; the served
   * state equals a rebuild-without-them whenever no surviving doc's
   * assignment flips once the deleted mass is gone (true for separated
   * clusters; the mini-batch analogue of the IVF centroid-drift
   * caveat).
   */
  def deleteKmeansContribs(spark: SparkSession, dir: String,
      docs: DataFrame, deleteId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchCol: String = "__batch"): Boolean =
    delete(spark, dir, deleteId, Seq(Partials)) { (stamp, horizon) =>
      val stage = stageOf(dir, deleteId)
      if (!promoteStage(spark, stage)) {
        val priorDels = committedDeletes(spark, dir).filter(_ != deleteId)
        val priorIds: Seq[String] =
          if (priorDels.isEmpty) Seq.empty
          else Tombstones.read(spark, dir)
            .filter(col("__del").isInCollection(priorDels))
            .select("__id").distinct().collect().map(_.getString(0)).toSeq
        val snap = docs.select(col(idCol).cast("long").as("__vid"),
          col(vecCol).cast(ArrayType(FloatType)).as("__v"),
          col(batchCol).cast("long").as("__b"))
        publishStage(spark, stage)((if (priorIds.isEmpty) snap
          else snap.filter(notIn(col("__vid").cast("string"), priorIds)))
          .distinct().coalesce(1).write.parquet(_))
      }
      val snap = spark.read.schema(KmSnapSchema).parquet(stage)
      val committed = snap.filter(committedPred(spark, dir, col("__b"),
        ingestOnly = true))
      val batches = committed.select("__b").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq
      // one as-of state per affected batch (bounded: deletions are
      // takedown lists, not corpus scale), negatives derived with the
      // SAME assignment kernel the ingest used
      val negatives = batches.map { b =>
        Clustering.miniBatchPartials(
            committed.filter(col("__b") === b)
              .select(col("__vid").as(idCol), col("__v").as(vecCol)),
            kmeansStateSums(spark, dir, upTo = b), idCol, vecCol)
          .select(col("__cl"), (-col("__n")).as("__n"),
            transform(col("__s"), x => -x).as("__s"))
      }
      negatives.reduceOption(_ unionByName _).foreach(n =>
        Partials.append(dir, n.select(col("__cl"), col("__n").cast("long"),
          col("__s"), lit(stamp).as("__batch"), lit(horizon).as("__h"))
          .coalesce(1)))
      snap.select(col("__vid").cast("string").as("__id")).distinct()
    } (())
}
