package graft.streaming

import graft.operators.Layout
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streamed CLUSTERED ingest — the write path of the storage-layout
 * lever ([[graft.operators.Layout]]): a continuous feed lands as
 * z-order-clustered parquet so multi-dimensional scan pruning holds on
 * the LIVE table, not only after an offline rewrite. The same
 * LSM-shaped discipline every lakehouse OPTIMIZE/ZORDER implementation
 * converges on, under this engine's crash-exact marker protocol:
 *
 *  - The quantization GRID is a table property fixed at [[bootstrap]]
 *    (columns, per-column bounds, bits), persisted under `grid/` —
 *    per-batch min/max would give the same row different keys in
 *    different batches and make files incomparable; with a fixed grid
 *    every batch, every compaction, and a SQL oracle compute identical
 *    keys ([[Layout.withZOrderKeyFixed]]; out-of-bounds late data
 *    clamps to the edge cells — pruning degrades gracefully, never
 *    corrupts).
 *  - Each micro-batch keys its rows, range-partitions them on the key
 *    into `filesPerBatch` sorted files, writes them to a staging dir,
 *    and publishes with ONE atomic rename to `data/batch-<id>/`,
 *    followed by a commit marker. Crash matrix: mid-write → stage is
 *    garbage, replay deletes and rewrites; after rename before marker
 *    → the dir is complete by construction (the rename only follows a
 *    finished write), replay just re-stamps the marker; after marker →
 *    replay is a no-op. Batch dirs are the LSM L0: internally
 *    clustered, overlapping in key range across batches.
 *  - [[compact]] folds the small-dir tail into one `gen-<stamp>/`
 *    re-clustered across ALL folded rows (restoring non-overlapping
 *    per-file key ranges), via a WAL manifest in `markers/`: stage the
 *    gen dir, durably record (target, sources, COMMIT), rename stage
 *    into `data/`, delete sources, drop the manifest. Every step after
 *    the COMMIT trailer is idempotent; [[recoverCompact]] replays them.
 *    Large generations are never rewritten (the DedupIngest size-tier
 *    argument: bytes per cycle bounded by the small tail).
 *  - [[read]] is correct in EVERY crash state without writing: it lists
 *    the `data/` subdirs and drops a committed manifest's sources when
 *    its target dir exists — the rename is the publish point, so before
 *    it the sources are live, after it they are logically deleted even
 *    if the physical deletes haven't run yet.
 *  - TWO single-writer locks, so maintenance never stalls the stream
 *    ([[LedgerLock]]s — fail-fast for the maintenance holders, a
 *    BOUNDED WAIT on the tail acquires ([[LedgerLock.withLockWait]])
 *    so writers that legitimately interleave sleep through each
 *    other's short marker sections; same-host dead writers
 *    self-recover):
 *    the TAIL lock (`<dir>/markers/lock`) serializes the ingest path —
 *    batch publish, commit markers, the marker-watermark fold, schema
 *    publication — and the MAINTENANCE lock (`<dir>/maint/…`)
 *    serializes every unit REWRITER ([[compact]], [[delete]], the
 *    rewrite half of [[mergeRows]]) plus [[recoverCompact]]. The split
 *    is safe because the tail only ever CREATES new units and markers,
 *    never mutates published ones, and readers are lock-free by the
 *    publish-point rule; the one cross-lock writer, [[mergeRows]],
 *    holds MAINTENANCE for its whole run (fail-fast at entry, before
 *    any mutation) and nests a SHORT tail section inside it for just
 *    the freshness guard + append — the only maint→tail nesting in
 *    the engine, and no path nests the other way, so no cycle; a live
 *    stream stalls only for that append, never for the merge's
 *    rewrites. Rewriters must still exclude EACH OTHER — two
 *    manifests naming one source with different targets would
 *    double-publish its rows. A delete/compact concurrent with a
 *    live stream is serializable as happening BEFORE any batch
 *    published after its unit selection (a concurrent insert into the
 *    deleted box survives — the delete happened first).
 *
 * FILESYSTEM CONTRACT: the publish protocol assumes directory rename
 * is atomic and O(1) — true on HDFS, local filesystems, and
 * rename-consistent stores (ABFS, GCS); NOT true on plain S3A, where
 * "rename" is a non-atomic copy+delete and a reader can observe a
 * half-copied `data/batch-<id>/`. On such stores run the table over an
 * atomic-rename layer (S3A + a consistent committer/metastore, or an
 * HDFS/ABFS staging tier) — the marker ledger alone does not repair a
 * torn rename, because [[read]] deliberately treats dir EXISTENCE (not
 * the marker) as the publish point so that readers never need the
 * lock. Same scoping discipline as [[LedgerLock]]'s own S3A caveat.
 * The contract is executable: LayoutIngestSpec's torn-rename test
 * drives both states — the atomic-rename crash (stage-only, readers
 * unaffected, replay discards) and the torn half-copied dir (reads
 * fail LOUDLY on the parquet footer — never a silent wrong answer).
 *
 * 100 TB: nothing here is driver-bound — batches shuffle once on the
 * key (the range partition), compaction reads only the small tail, and
 * the table serves statistics-pruned scans the whole time (the
 * r12 layout-probe numbers, NOTES: a thin slice materializes 1/64 of a clustered
 * table vs all of a time-ordered one).
 */
object LayoutIngest extends org.apache.spark.internal.Logging {

  /** The persisted cluster key column. */
  /** [[start]]'s ledger-id regime — a dedicated type rather than a
    * Boolean so the two regimes can never be swapped by a positional
    * argument (the epoch-keyed opt-in flips a writer into an
    * EXCLUSIVE ledger; see the regime section on [[start]]). */
  sealed abstract class IdRegime
  /** Txn-minted ledger ids — the safe, multi-writer default. */
  case object TxnMintedIds extends IdRegime
  /** Epoch-keyed ids — content-addressed replays, single-writer
    * EXCLUSIVE opt-in. */
  case object EpochKeyedIds extends IdRegime

  val KeyCol = "zkey"

  /** [[mergeRows]]'s freshness guard fired: the requested batch id is
    * already committed in (or reserved against) the ledger. TYPED so
    * advisory-id callers ([[nextUnusedId]] mint-then-merge, the SQL
    * MERGE command) can distinguish "lost the id race — re-mint and
    * retry" from genuine contract violations. */
  final class StaleBatchIdException(msg: String)
    extends IllegalArgumentException(msg)

  /** [[mergeRows]]' `classifiedAt` guard fired: the table committed a
    * write between the caller's read of the ledger (its matched /
    * unmatched classification of source rows — the conditional SQL
    * MERGE's key-membership split) and the merge's claim of its id.
    * TYPED and DISTINCT from [[StaleBatchIdException]]: re-minting the
    * id is not enough — the caller must REDO the classification read
    * against the new table state and retry the whole statement
    * ([[graft.sql.GraftMergeCommand]]'s loop). */
  final class StaleClassificationException(msg: String)
    extends IllegalStateException(msg)

  /** The MAINTENANCE lock (object doc): serializes the unit rewriters
    * against each other while the TAIL lock keeps ingesting. Scoped
    * under `<dir>/maint` so the two locks are distinct files of the
    * same [[LedgerLock]] machinery. */
  private def withMaintLock[T](spark: SparkSession, dir: String)
      (body: => T): T =
    LedgerLock.withLock(spark, s"$dir/maint")(body)

  /** The persisted INGEST PROVENANCE column: every row carries the id
    * of the micro-batch that ingested it, stamped at [[ingestBatch]]
    * and immutable from then on — compaction folds and delete rewrites
    * copy it untouched. Two reads fall out of one column plus the
    * existing statistics machinery ([[readSince]]/[[readAsOf]]): the
    * per-unit sidecars carry the column's min/max like any other, so
    * an L0 unit spans exactly its own id and a folded generation spans
    * the ids it swallowed — a CDC consumer asking "everything after
    * batch b" skips whole generations of old history at the FILE
    * level before the reader opens anything. [[read]] hides the
    * column (the current-state read is provenance-free); the
    * provenance reads return it so consumers can checkpoint
    * `max(__batch)`. */
  val BatchCol = "__batch"

  /** `curve`: "zorder" (any dims) or "hilbert" (≥2 dims, the Skilling
    * N-dim form — tighter locality at the same grid; the r12
    * layout-probe numbers in NOTES). A table property like the rest of the grid: every
    * writer keys with the same curve forever.
    *
    * `bloomCols`: long- or string-typed columns to carry a per-unit
    * Bloom-filter sidecar for POINT lookups ([[scanPoints]] /
    * [[scanPointsStr]]) — the clustered columns' min/max stats
    * prune boxes, but an equality probe on a NON-clustered column
    * (e.g. `event_id = k` on a (user_id, ts)-clustered table) finds
    * every unit's range intersecting. A bloom answers "this unit
    * cannot contain k" with no false negatives, so [[scanPoints]]
    * prunes exactly like a box scan does; false positives only add
    * units to read — the residual filter keeps results exact. Costs
    * one extra pass over each freshly-staged unit per column at
    * publish time (the lakehouse bloom-index trade). */
  final case class Grid(cols: Seq[String], bounds: Seq[(Long, Long)],
      bits: Int, curve: String = "zorder", bloomCols: Seq[String] = Nil)

  /** Create the table: persist the grid (the fixed quantization
    * contract every future writer shares). Fails if the dir already
    * holds a grid — re-gridding an existing table is a rewrite, not a
    * bootstrap. */
  def bootstrap(spark: SparkSession, dir: String, grid: Grid): Unit = {
    require(grid.cols.nonEmpty && grid.cols.size == grid.bounds.size,
      "bootstrap: cols and bounds must align")
    require(Set("zorder", "hilbert")(grid.curve),
      s"bootstrap: unknown curve '${grid.curve}'")
    require(grid.curve != "hilbert" || grid.cols.size >= 2,
      "bootstrap: the hilbert curve needs >= 2 dims")
    val (f, p) = DedupIngest.fs(spark, s"$dir/grid")
    require(!f.exists(p), s"LayoutIngest.bootstrap: $dir already has a grid")
    import spark.implicits._
    Seq((grid.cols, grid.bounds.map(_._1), grid.bounds.map(_._2),
        grid.bits, grid.curve, grid.bloomCols))
      .toDF("cols", "mns", "mxs", "bits", "curve", "bloomCols")
      .coalesce(1).write.parquet(s"$dir/grid")
    f.mkdirs(new Path(s"$dir/data"))
    f.mkdirs(new Path(s"$dir/markers"))
  }

  /** The grid is immutable after [[bootstrap]] (regrid = new dir), so
    * one parquet read per table path serves every later batch, fold
    * and delete — a long-lived stream otherwise pays a driver job per
    * micro-batch for a constant. Same invalidation contract as the
    * stats cache ([[clearStatsCache]] — drop + re-bootstrap at the
    * SAME path). */
  private val gridCache = new Lru[String, Grid](4096)

  def readGrid(spark: SparkSession, dir: String): Grid =
    gridCache.getOrLoad(dir)(readGridUncached(spark, dir))

  /** The bounded LRU map (access order, eldest evicted past `capacity`)
    * behind the grid, stats, bloom and dml-log caches. Synchronized on
    * itself; a miss loads outside the lock, so two racing readers may
    * both load an entry — every cached value is immutable, so either
    * copy serves. */
  private final class Lru[K, V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > capacity
    }
    def get(k: K): Option[V] = synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = synchronized(m.put(k, v): Unit)
    def clear(): Unit = synchronized(m.clear())
    def getOrLoad(k: K)(load: => V): V = get(k).getOrElse {
      val v = load
      put(k, v)
      v
    }
  }

  private def readGridUncached(spark: SparkSession, dir: String): Grid = {
    val df = spark.read.parquet(s"$dir/grid")
    val r = df.head()
    Grid(r.getSeq[String](0),
      r.getSeq[Long](1).zip(r.getSeq[Long](2)),
      r.getInt(3),
      // tables written before the curve column are z-order by contract
      if (df.schema.fieldNames.contains("curve"))
        r.getString(df.schema.fieldIndex("curve"))
      else "zorder",
      // and before the bloomCols column, bloom-free
      if (df.schema.fieldNames.contains("bloomCols"))
        r.getSeq[String](df.schema.fieldIndex("bloomCols"))
      else Nil)
  }

  /** The grid's key expression over a batch — the ONE place the curve
    * choice lives. */
  private def keyed(batch: DataFrame, grid: Grid): DataFrame =
    grid.curve match {
      case "hilbert" => Layout.withHilbertKeyNFixed(batch,
        grid.cols.map(col), grid.bounds, grid.bits, KeyCol)
      case _ => Layout.withZOrderKeyFixed(batch,
        grid.cols.map(col), grid.bounds, grid.bits, KeyCol)
    }

  /**
   * Continuous clustered ingest: every micro-batch lands as one
   * published batch dir (see the object doc's crash matrix).
   * `compactEvery = Some(n)` folds the small tail after every n
   * batches — the cadence runs AFTER the locked ingest body (the lock
   * is not reentrant). RESTART AFTER A DRIVER CRASH: the
   * [[DedupIngest.start]] contract — same-host restarts self-recover
   * via the dead-pid lock break; cross-host failover sets
   * [[LedgerLock.LockStaleMsKey]].
   *
   * TWO LEDGER-ID REGIMES, chosen by `ids` (a dedicated [[IdRegime]]
   * type, NOT a Boolean: the r17 rename inverted the old `txnIds`
   * flag's sense, and a positional `true` from an external caller
   * compiled under the old signature would have silently flipped a
   * writer into the exclusive epoch-keyed regime — the exact
   * silent-row-drop hazard the default flip retired; same option
   * names and default as the format-level sink, `writeStream.format(
   * "graft-layout")` `.option("epochIds", ...)`):
   *
   *  - [[TxnMintedIds]] (default): each (queryId, epoch) RESERVES
   *    the next unused ledger id under the tail lock, bound durably by
   *    a `txn-e<epoch>-i<id>-<qid>` marker ([[streamLedgerId]]) — the
   *    idempotent-sink pattern. Batch appends ([[appendNext]],
   *    `df.write`/`INSERT INTO`), [[mergeRows]] and other streams
   *    interleave freely on one table and nothing is ever dropped;
   *    in-flight-epoch replays are exact via the reservation.
   *    The price: a replay from a FRESH checkpoint re-ingests (ids are
   *    allocation order, not content) — at-least-once across
   *    checkpoint RESETS, exactly-once across restarts of the same
   *    checkpoint.
   *  - [[EpochKeyedIds]]: ledger id = the checkpoint's micro-batch
   *    epoch. With a deterministic source this makes ids
   *    CONTENT-ADDRESSED: a replay from a fresh checkpoint re-offers
   *    the same rows under the same ids and every ingest is a marker
   *    no-op — re-running a whole pipeline is idempotent end to end.
   *    The price is an EXCLUSIVE ledger: nothing else may mint ids
   *    while such a stream is attached — a batch append or a merge
   *    would take the stream's next epoch id and turn that future
   *    batch into a silent row-dropping no-op. Opt in ONLY for a
   *    single-writer table fed by one deterministic pipeline.
   *
   *  Pre-flip tables written by the old epoch-keyed default: quiesce
   *  and keep using `ids = EpochKeyedIds`, or restart from a fresh
   *  checkpoint on a fresh table — the reservation ledger is the
   *  compatibility boundary.
   */
  def start(df: DataFrame, dir: String, checkpoint: String,
      filesPerBatch: Int = 4,
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20,
      lockWaitMs: Long = 30000L,
      ids: IdRegime = TxnMintedIds): StreamingQuery = {
    require(filesPerBatch >= 1, "filesPerBatch must be >= 1")
    require(compactEvery.forall(_ > 0), "compactEvery must be positive")
    val writer = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        microBatchIngest(batch, batchId, dir, checkpoint, filesPerBatch,
          compactEvery, smallFileBytes, lockWaitMs,
          txnIds = ids == TxnMintedIds)
      }
    (if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else writer).start()
  }

  /** ONE micro-batch's whole sink body — the shared engine behind
    * [[start]]'s foreachBatch AND the format-level streaming sink
    * ([[LayoutStreamSink]], `df.writeStream.format("graft-layout")`):
    * resolve the ledger id for this epoch (txn reservation or the
    * epoch itself — [[start]] documents the two regimes), ingest under
    * the tail lock, fold the marker ledger, and run the best-effort
    * compaction cadence. */
  private[streaming] def microBatchIngest(batch: DataFrame, epoch: Long,
      dir: String, checkpoint: String, filesPerBatch: Int,
      compactEvery: Option[Int], smallFileBytes: Long,
      lockWaitMs: Long, txnIds: Boolean): Unit = {
    val spark = batch.sparkSession
    // bounded wait, not fail-fast: a mergeRows append section or a
    // batch appendNext holding the tail for tens of ms must not
    // fail the streaming query — only a holder outliving the
    // budget (a stuck or duplicate writer) does. The STREAM default
    // stale lease ([[LedgerLock.StreamLockStaleMsDefault]]) makes a
    // CROSS-HOST failover self-recover: a tail holder ten minutes old
    // under a live stream is a dead foreign writer (sections are tens
    // of ms) — retired automatically where the same-host dead-pid
    // break cannot reach; LockStaleMsKey overrides when set.
    LedgerLock.withLockWait(spark, dir, lockWaitMs,
      LedgerLock.StreamLockStaleMsDefault) {
      val ledgerId =
        if (txnIds)
          streamLedgerId(spark, dir,
            checkpointQueryId(spark, checkpoint), epoch)
        else epoch
      ingestBatch(batch, ledgerId, dir, filesPerBatch): Unit
      // keep the marker dir at one watermark + the in-flight tail
      compactMarkersLocked(spark, dir)
    }
    compactEvery.foreach { n =>
      if ((epoch + 1) % n == 0)
        // the cadence is best-effort: a concurrently-running manual
        // fold/delete (maintenance lock held) must not kill the
        // STREAM — the fold happens on the next cadence instead
        try compact(spark, dir, smallFileBytes)
        catch {
          case e: LedgerLock.ConcurrentWriterException =>
            logWarning("LayoutIngest: compaction cadence skipped — " +
              s"maintenance lock contention on $dir (${e.getMessage})")
        }
    }
  }

  /** One batch's ingest under the caller-held lock; false = replay of
    * an already-committed batch (no-op). */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      dir: String, filesPerBatch: Int): Boolean = {
    val spark = batch.sparkSession
    refuseReplicaWrite(spark, dir, "ingestBatch")
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    // NO recoverCompact here, by design: the ingest path never touches
    // gen manifests — recovery is the MAINTENANCE lock's job (compact/
    // delete/mergeRows all run it), which is what lets a fold run
    // concurrently with the stream (see the lock-split section of the
    // object doc). Reads are crash-correct without recovery (liveDirs'
    // publish-point rule), so deferring it costs only debris lifetime.
    val marker = new Path(markers, s"batch-$batchId")
    if (batchId <= batchWatermark(f, markers) || f.exists(marker))
      return false
    val target = new Path(s"$dir/data/batch-$batchId")
    if (!f.exists(target)) {
      // crash-leftover stage from a previous attempt is garbage
      val stage = new Path(s"$dir/data.stage-$batchId")
      if (f.exists(stage)) f.delete(stage, true)
      val grid = readGrid(spark, dir)
      require(!batch.columns.contains(BatchCol),
        s"ingestBatch: input already carries $BatchCol (reserved — " +
          "provenance is stamped here, not by the caller)")
      require(!batch.columns.contains(KeyCol),
        s"ingestBatch: input already carries $KeyCol (reserved — " +
          "the cluster key is computed here; keyed() would silently " +
          "overwrite the caller's column)")
      val toWrite = keyed(batch, grid).withColumn(BatchCol, lit(batchId))
      toWrite
        .repartitionByRange(filesPerBatch, col(KeyCol))
        .sortWithinPartitions(KeyCol)
        .write.mode("overwrite").parquet(stage.toString)
      // an EMPTY micro-batch publishes no data dir (streams emit them
      // routinely): the marker alone records the commit, replays stay
      // no-ops, and no zero-row unit accumulates in the listing (the
      // footer count is one metadata read of the just-written stage)
      if (footerRowCount(f, stage) == 0L) {
        f.delete(stage, true)
        f.create(marker, true).close()
        return true
      }
      sealUnit(spark, f, stage, grid)
      // schema BEFORE data: the stored union is always a superset of
      // every published file (additive evolution, see tableSchema)
      publishSchema(spark, dir, toWrite.schema)
      if (!f.rename(stage, target))
        throw new IllegalStateException(
          s"LayoutIngest: publish rename failed for batch $batchId")
    }
    // target existing without a marker = crash between rename and
    // marker; the dir is complete by construction — just re-stamp
    f.create(marker, true).close()
    true
  }

  /** A PRUNABLE UNIT of the table — a flat dir of key-sorted parquet
    * files: an L0 batch dir, a single-dir generation, or one `range-k`
    * subdir of a RANGE-SPLIT generation. Named relative to `data/`
    * (`batch-3`, `gen-ab12cd34/range-2`); manifests, logical deletion,
    * footer pruning, deletes, and reads all operate on units. */
  private def leafUnits(f: FileSystem, data: Path): Seq[(String, Path)] =
    f.listStatus(data).toSeq.filter(_.isDirectory).flatMap { top =>
      val subs = f.listStatus(top.getPath).toSeq.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("range-"))
      if (subs.isEmpty) Seq(top.getPath.getName -> top.getPath)
      else subs.map(s =>
        s"${top.getPath.getName}/${s.getPath.getName}" -> s.getPath)
    }

  /** Stamp commit markers for PUBLISHED-BUT-UNMARKED L0 batch dirs (a
    * crash between the publish rename and the marker create). Must be
    * called with the MAINTENANCE lock held, BEFORE
    * [[compact]]/[[delete]] select units: both pick units by
    * listing `data/`, so without this an orphan `batch-<id>` dir could
    * be folded into a generation (or rewritten) first, and the
    * stream's later replay of that id — finding neither marker nor
    * target dir — would re-ingest it, duplicating every row (and,
    * after a delete, resurrecting deleted ones). Stamping is safe
    * by the same argument [[ingestBatch]]'s own recovery path uses: a
    * published dir is complete by construction (the rename is the last
    * data step), so the marker only formalizes a commit the replay
    * would have re-stamped anyway; with the marker in place that
    * replay becomes a no-op. Under the LOCK SPLIT a dir-without-marker
    * here may also be a LIVE tail writer between its rename and marker
    * create (not only a crashed one) — adoption is still safe: it
    * stamps exactly the marker that writer is about to create itself
    * (an idempotent overwrite-create; the writer's return value and
    * replay contract are unchanged). */
  private def adoptOrphanBatches(spark: SparkSession, dir: String): Unit = {
    val (f, data) = DedupIngest.fs(spark, s"$dir/data")
    if (!f.exists(data)) return
    val (_, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val w = batchWatermark(f, markers)
    idsOf(f.listStatus(data).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName), "batch-").filter(_ > w)
      .foreach { id =>
        val m = new Path(markers, s"batch-$id")
        if (!f.exists(m)) {
          // rare post-crash healing — worth an audit trace: operators
          // should see that a publish-rename/marker crash window was
          // adopted, not silently absorbed
          logWarning(s"LayoutIngest: adopting orphan batch-$id under " +
            s"$dir (published dir without a commit marker — a writer " +
            "crashed between the publish rename and the marker create); " +
            "stamping its marker now")
          f.create(m, true).close()
        }
      }
  }

  /** Fold the small prunable units into one re-clustered generation —
    * WAL-manifested (object doc); no-op under two small units. A fold
    * producing more than one output file publishes as a RANGE-SPLIT
    * generation: each file lands in its own `range-k/` subdir (the
    * files are range-disjoint by construction), so FILE-LEVEL pruning
    * ([[scanBox]]/[[delete]]'s unit selection) applies within the
    * generation — at scale a fold spans many dirs' worth of data, and
    * one monolithic dir would force every box to open all of it. The
    * split happens INSIDE the stage, so the publish is still one
    * atomic rename. `targetFileBytes` sizes the outputs (0 → 8×
    * `smallFileBytes`, the graduate-and-never-refold tier ladder). */
  def compact(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 0L): Unit =
    maintSection(spark, dir, "compact") {
      val (f, _) = DedupIngest.fs(spark, s"$dir/data")
      val smalls = listUnits(spark, dir)
        .filter { case (_, p) => dirBytes(f, p) < smallFileBytes }
      if (smalls.size >= 2) {
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val stage = new Path(s"$dir/gen-$stamp.stage")
        val target = if (targetFileBytes > 0) targetFileBytes
          else 8L * smallFileBytes
        val parts = math.min(4096, math.max(1, math.ceil(
          smalls.map(p => dirBytes(f, p._2)).sum.toDouble /
            target.toDouble).toInt))
        // the key is PERSISTED, so re-clustering is a pure range
        // repartition on it — no re-quantization pass; the stored
        // schema unifies units written before a payload column
        readUnits(spark, dir, smalls.map(_._2))
          .repartitionByRange(parts, col(KeyCol))
          .sortWithinPartitions(KeyCol)
          .write.mode("overwrite").parquet(stage.toString)
        // range-split: one subdir per output file, inside the stage
        val partFiles = dataFiles(f, stage).sortBy(_.getPath.getName)
        val grid = readGrid(spark, dir)
        if (partFiles.size > 1) {
          partFiles.zipWithIndex.foreach { case (pf, k) =>
            val sub = new Path(stage, s"range-$k")
            f.mkdirs(sub)
            // a false here (Hadoop reports most failures via false,
            // not exceptions) would strand the file at the gen's top
            // level where leafUnits assigns it to NO unit — its rows
            // would silently vanish once the manifest commits
            if (!f.rename(pf.getPath, new Path(sub, pf.getPath.getName)))
              throw new IllegalStateException(
                s"compact: range-split rename failed for ${pf.getPath}")
          }
          partFiles.indices.foreach(k =>
            sealUnit(spark, f, new Path(stage, s"range-$k"), grid))
        } else sealUnit(spark, f, stage, grid)
        commitManifest(spark, dir, f, stamp, smalls.map(_._1))
      }
      // NO marker fold here: the batch-marker watermark is TAIL-lock
      // state (the ingest cadence folds it every batch; batch-mode
      // tables call compactMarkers()) — folding it from under the
      // maintenance lock would put two concurrent folds on one ledger
    }

  /** "All batch ids ≤ n are committed" — the highest published
    * `batch-upto-<n>` watermark, -1 when none. An id is committed iff
    * it is ≤ the watermark OR its individual marker exists. */
  private def batchWatermark(f: FileSystem, markers: Path): Long =
    if (!f.exists(markers)) -1L
    else MarkerLedger.watermark(
      f.listStatus(markers).toSeq.map(_.getPath.getName))

  /** Fold the contiguous committed prefix of the L0 batch markers into
    * ONE `batch-upto-<n>` watermark file. WHY: every ingest and
    * recovery lists `markers/`, and a long-lived stream mints one
    * marker per micro-batch forever — at 100 TB (millions of batches)
    * each listing walks millions of entries, a quadratic over the
    * stream's lifetime (the q141 cost shape, on metadata instead of
    * data). The fold keeps the dir at one watermark + the in-flight
    * tail. Crash-exact and idempotent with NO ordering hazard: the
    * watermark is an atomic empty-file create whose NAME carries the
    * state (monotone — readers take the max), the folded markers and
    * superseded watermarks are deleted after, and a crash between any
    * two steps leaves a state this fold or any replay converges from.
    * Ids above a gap (a concurrent writer's in-flight batch) keep
    * their individual markers until the gap commits. */
  def compactMarkers(spark: SparkSession, dir: String): Unit =
    LedgerLock.withLock(spark, dir)(compactMarkersLocked(spark, dir))

  /** What [[vacuum]] swept, for operations logging/asserts.
    * `manifestsReplayed` counts manifests RESOLVED by the recovery
    * pass — committed ones replayed to completion plus uncommitted
    * (crash-mid-write) ones discarded with their stages;
    * `genStagesDropped` is the WAL-less stage orphans beyond those. */
  final case class VacuumStats(manifestsReplayed: Int,
      genStagesDropped: Int, ingestStagesDropped: Int,
      emptyUnitsDropped: Int, dmlMarkersFolded: Int = 0)

  /** The retention/VACUUM op — one call that physically clears every
    * debris class the crash-exact protocol can leave behind, none of
    * which affects CORRECTNESS (reads are exact in every crash state;
    * this is about storage and listing hygiene on a long-lived table):
    *
    *  1. committed-but-unfinished compaction/delete/merge manifests
    *     (replayed to completion) and WAL-less `gen-*.stage` orphans —
    *     [[recoverCompact]], which inline maintenance already runs;
    *     vacuum exists so an operator can run it WITHOUT also folding
    *     or deleting anything;
    *  2. dead `data.stage-<id>` ingest stages: a stage is only ever
    *     written under the TAIL lock, so under a short nested tail
    *     section any existing one belongs to a crashed writer — swept.
    *     Safe even if that id IS later replayed (a txn-regime restart
    *     with a surviving (queryId, epoch) reservation resolves to the
    *     same id and re-runs [[ingestBatch]]): the replay deletes and
    *     rewrites its stage itself, so sweeping it early only does the
    *     replay's first step for it; only a fresh-checkpoint restart
    *     never revisits the id at all;
    *  3. ZERO-ROW live units (a [[delete]]/[[mergeRows]] rewrite
    *     that emptied a whole unit publishes an empty dir — trivially
    *     pruned by every read, but it costs a listing + sidecar stat
    *     probe per scan forever): dropped WITHOUT a WAL manifest,
    *     which is safe precisely because the unit holds no rows — any
    *     crash mid-drop leaves a subset of its zero rows, i.e. still
    *     zero; a range-split generation whose last leaf drops loses
    *     its empty parent shell too;
    *  4. the marker ledger fold ([[compactMarkersLocked]], inside the
    *     same tail section);
    *  5. the DML marker fold ([[foldDmlMarkers]]): the permanent
    *     `del-*`/`upd-*`/`sdml-*`/`mrg-*` statement records — and the
    *     `merge-<id>` commit markers of the folded merges —
    *     consolidate into one `dml-log` file: facts kept exactly,
    *     every per-statement listing entry bounded (the replay
    *     snapshots `mrg-<id>.updates` stay until
    *     [[dropMergeSnapshots]] retention).
    *
    * Holds the MAINTENANCE lock throughout (vacuum is a rewriter-class
    * op: manifests name sources, and two recoverers must not race)
    * with the one short maint→tail nesting the engine already uses
    * ([[mergeRows]]' order — no cycle). Concurrent readers stay
    * correct by the same argument as compaction's source deletes: the
    * transient FAILED_READ_FILE on a just-dropped (empty) unit is the
    * documented file-listing-read contract, never a wrong answer.
    * Retired txn reservations are NOT swept (one per stream is the
    * documented O(#streams) floor — the newest reservation of a live
    * stream is load-bearing state). `del-<id>` / `upd-<id>` / `sdml-*`
    * markers are each statement's PERMANENT idempotence + replay
    * record — their FACTS are never dropped, but the files fold into
    * one `dml-log` ([[foldDmlMarkers]], class 5) so the marker listing
    * stays bounded at any DML cadence. */
  def vacuum(spark: SparkSession, dir: String,
      lockWaitMs: Long = 30000L): VacuumStats = {
    // owed chunked-merge buckets FIRST, outside the maintenance hold
    // (each sub-merge takes its own locks; LedgerLock is not
    // reentrant) — dead-owner plans only, the crash-recovery path
    val resumed = resumeChunkedMerges(spark, dir)
    if (resumed > 0)
      logWarning(s"LayoutIngest.vacuum: completed $resumed owed " +
        s"chunked-merge bucket(s) on $dir (crashed writer's plan)")
    withMaintLock(spark, dir) {
      val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
      val (_, root) = DedupIngest.fs(spark, dir)
      def manifests: Int =
        if (!f.exists(markers)) 0
        else f.listStatus(markers).toSeq
          .count(_.getPath.getName.matches("compact-.*\\.manifest"))
      // WAL-less orphan stages counted DIRECTLY (a stage with no
      // manifest — recoverCompact discards exactly these), not
      // inferred from before/after listing deltas: a committed
      // manifest whose stage was already consumed would skew a delta
      val orphanStages =
        if (!f.exists(root)) 0
        else f.listStatus(root).toSeq
          .map(_.getPath.getName)
          .filter(_.matches("gen-.*\\.stage"))
          .count(n => !f.exists(manifestPath(spark, dir,
            n.stripPrefix("gen-").stripSuffix(".stage"))))
      val m0 = manifests
      recoverCompact(spark, dir)
      adoptOrphanBatches(spark, dir)
      val m1 = manifests
      val dmlFolded = foldDmlMarkers(spark, dir)

      // zero-row live units (class 3). liveDirs, not a raw listing:
      // recoverCompact just ran under this lock, so no committed
      // manifest still names a source — every listed dir is live.
      var emptied = 0
      liveDirs(spark, dir).foreach { d =>
        if (unitRows(f, d) == 0L) {
          logWarning(s"LayoutIngest.vacuum: dropping zero-row unit " +
            s"$d under $dir")
          f.delete(d, true)
          emptied += 1
          val parent = d.getParent
          if (parent.getName.startsWith("gen-") && f.exists(parent) &&
              f.listStatus(parent).forall(st =>
                st.isFile && !isDataFile(st.getPath.getName)))
            f.delete(parent, true): Unit
        }
      }

      // dead ingest stages + marker fold (classes 2 and 4), under the
      // short nested tail section
      var stages = 0
      LedgerLock.withLockWait(spark, dir, lockWaitMs) {
        if (f.exists(root))
          f.listStatus(root).toSeq
            .filter(_.getPath.getName.matches("data\\.stage-\\d+"))
            .foreach { s =>
              logWarning(s"LayoutIngest.vacuum: dropping dead ingest " +
                s"stage ${s.getPath} under $dir")
              f.delete(s.getPath, true)
              stages += 1
            }
        compactMarkersLocked(spark, dir)
      }
      VacuumStats(manifestsReplayed = m0 - m1,
        genStagesDropped = orphanStages,
        ingestStagesDropped = stages, emptyUnitsDropped = emptied,
        dmlMarkersFolded = dmlFolded)
    }
  }

  private def compactMarkersLocked(spark: SparkSession,
      dir: String): Unit = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    if (!f.exists(markers)) return
    val names = f.listStatus(markers).toSeq.map(_.getPath.getName)
    // shared fold core (MarkerLedger); this family's commit markers
    // are named batch-<id> and leave no per-id debris
    MarkerLedger.fold(f, markers, names,
      commitIds = idsOf(names, "batch-").toSet,
      commitName = i => s"batch-$i")
    // txn reservations: keep only each query's LATEST (highest-epoch)
    // reservation. Older epochs are checkpoint-committed — Spark
    // replays only the newest uncommitted epoch, so an older
    // reservation can never be asked for again, and its id stays
    // claimed through its batch marker/watermark/data dir. One marker
    // per (live or dead) stream remains — O(#streams), not O(epochs).
    val txns = names.collect { case n @ TxnMarker(e, _, q) => (q, e, n) }
    txns.groupBy(_._1).valuesIterator.foreach { g =>
      val newest = g.maxBy(_._2)._3
      g.iterator.filter(_._3 != newest).foreach { case (_, _, n) =>
        f.delete(new Path(markers, n), false): Unit
      }
    }
  }

  /** A parquet data file (not `_SUCCESS`/hidden). */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") &&
      name.endsWith(".parquet")

  private def manifestPath(spark: SparkSession, dir: String,
      stamp: String): Path =
    DedupIngest.fs(spark, s"$dir/markers/compact-$stamp.manifest")._2

  /** Replay any committed compaction manifest to completion: publish
    * the staged gen (idempotent — skipped when the target already
    * exists), delete the folded sources, drop manifest + stage. A
    * manifest without its COMMIT trailer (crash mid-write) is
    * discarded along with its stage — nothing was published. */
  private[streaming] def recoverCompact(spark: SparkSession,
      dir: String): Unit = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    if (!f.exists(markers)) return
    // a stage dir with no manifest is a crash-before-WAL orphan:
    // nothing was published, the sources hold every row — discard.
    // Safe under the MAINTENANCE lock every caller holds: gen stages
    // and manifests are only ever created by maintenance holders, so
    // an in-progress writer's stage cannot be seen by another
    // recoverer (the tail's own stages live at data.stage-<id>,
    // outside this sweep's gen-*.stage pattern).
    val (_, root) = DedupIngest.fs(spark, dir)
    f.listStatus(root).toSeq
      .filter(_.getPath.getName.matches("gen-.*\\.stage"))
      .foreach { s =>
        val stamp = s.getPath.getName
          .stripPrefix("gen-").stripSuffix(".stage")
        if (!f.exists(manifestPath(spark, dir, stamp)))
          f.delete(s.getPath, true)
      }
    f.listStatus(markers).toSeq
      .filter(_.getPath.getName.matches("compact-.*\\.manifest"))
      .foreach { m =>
        val lines = readMarkerLines(f, m.getPath)
        val stamp = m.getPath.getName
          .stripPrefix("compact-").stripSuffix(".manifest")
        val stage = new Path(s"$dir/gen-$stamp.stage")
        if (!lines.lastOption.contains("COMMIT")) {
          f.delete(m.getPath, false)
          if (f.exists(stage)) f.delete(stage, true)
        } else {
          val target = new Path(s"$dir/data/" + lines.collectFirst {
              case l if l.startsWith("T\t") => l.drop(2) }.get)
          if (!f.exists(target) && f.exists(stage))
            f.rename(stage, target): Unit
          if (f.exists(target)) {
            val sources = lines.collect {
              case l if l.startsWith("S\t") => l.drop(2) }
            sources.foreach { s =>
              val sp = new Path(s"$dir/data/$s")
              if (f.exists(sp)) f.delete(sp, true)
            }
            // a range-split gen whose last leaf was folded away leaves
            // an empty (or _SUCCESS-only) parent shell — drop it
            sources.filter(_.contains("/")).map(_.split("/")(0))
              .distinct.foreach { parent =>
                val pp = new Path(s"$dir/data/$parent")
                if (f.exists(pp) && f.listStatus(pp).forall(st =>
                    st.isFile && !isDataFile(st.getPath.getName)))
                  f.delete(pp, true)
              }
            if (f.exists(stage)) f.delete(stage, true)
            f.delete(m.getPath, false)
          }
          // target AND stage both missing (a published-then-lost gen)
          // is impossible under atomic rename; if it ever happens,
          // LEAVE the manifest and sources for a human rather than
          // delete data blindly
        }
      }
  }

  /** One recorded DML statement — the durable payload behind a
    * `<kind>-<id>` marker ([[DmlKinds]]: a [[DmlTarget]] delete or
    * update, an `sdml-<srcSeq>` replay, a merge) or its folded
    * [[foldDmlMarkers]] record. WHY statements are recorded, not just
    * marked: a marker name alone can prove idempotence, but it cannot
    * tell a REPLICA what the statement did — and a redaction that
    * never reaches replicas isn't a redaction (the RTBF gap). `seq` is
    * the table-global DML order (each kind is its own id namespace,
    * so ids alone cannot order an interleaved history);
    * `upto` is the contiguous committed batch watermark at statement
    * time — the provenance scope a replica replays under (rows of
    * later batches were not visible to the statement). `boxes` and
    * `sets` carry the target ([[DmlTarget.record]]: a box target's
    * boxes, a key or string-span target's tagged payload) and the
    * assignment expressions as re-parseable SQL text (none for a
    * delete). `seq < 0` marks a pre-v1 (payload-less) or unparseable
    * record: idempotence and history stay exact, replication refuses
    * typed. */
  private[graft] final case class DmlRecord(kind: String, id: Long,
      seq: Long, upto: Long, boxes: Seq[Seq[(String, Long, Long)]],
      sets: Seq[(String, String)], atMs: Option[Long])

  private[graft] object DmlRecord {
    /** Line-based, tab-separated record body (columns are identifiers
      * — tabs/newlines in names or a newline in an assignment's SQL
      * are refused at write). */
    def serialize(r: DmlRecord): String = {
      def clean(s: String, what: String): String = {
        require(!s.exists(c => c == '\t' || c == '\n' || c == '\r'),
          s"DmlRecord: $what contains a tab/newline: '$s'")
        s
      }
      val header = s"graft-dml v1 ${clean(r.kind, "kind")} ${r.id} " +
        s"${r.seq} ${r.upto}"
      val at = r.atMs.map(t => s"T\t$t").toSeq
      val bs = r.boxes.map(b => "B\t" + b.map { case (c, lo, hi) =>
        s"${clean(c, "column")}\t$lo\t$hi" }.mkString("\t"))
      val ss = r.sets.map { case (c, e) =>
        s"S\t${clean(c, "column")}\t${clean(e, "assignment SQL")}" }
      (header +: (at ++ bs ++ ss)).mkString("\n")
    }

    /** Parse one record's lines; `fallback` covers pre-v1 empty
      * markers and any unparseable payload (seq = -1 — never replayed,
      * still exact for idempotence and history). */
    def parse(kind: String, id: Long, lines: Seq[String],
        atMs: Option[Long]): DmlRecord = {
      def fallback = DmlRecord(kind, id, -1L, -1L, Nil, Nil, atMs)
      lines.headOption match {
        case Some(h) if h.startsWith("graft-dml v1 ") =>
          try {
            val Array(k, i, q, u) = h.stripPrefix("graft-dml v1 ")
              .split(" ")
            require(k == kind && i.toLong == id,
              s"record header ($k, $i) under marker ($kind, $id)")
            val at = lines.collectFirst {
              case l if l.startsWith("T\t") => l.drop(2).toLong }
            val boxes = lines.filter(_.startsWith("B\t")).map { l =>
              l.drop(2).split("\t", -1).grouped(3).map { t =>
                (t(0), t(1).toLong, t(2).toLong) }.toSeq
            }
            val sets = lines.filter(_.startsWith("S\t")).map { l =>
              val p = l.drop(2).split("\t", 2)
              (p(0), p(1))
            }
            DmlRecord(kind, id, q.toLong, u.toLong, boxes, sets,
              at.orElse(atMs))
          } catch { case scala.util.control.NonFatal(_) => fallback }
        case _ => fallback
      }
    }
  }

  /** SQL function names bound to the EVALUATION ENVIRONMENT — wall
    * clock, session identity, RNG, task placement — rather than to the
    * row. Matched by name because the guard must fire on BOTH resolved
    * trees (the SQL DML rule's analyzed assignments) and the unresolved
    * trees a record's SQL parses back into at replica replay. */
  private val EnvBoundFns = Set(
    "current_timestamp", "now", "current_date", "localtimestamp",
    "current_timezone", "current_user", "user", "session_user",
    "current_database", "current_schema", "current_catalog",
    "uuid", "rand", "random", "randn", "randstr", "uniform", "shuffle",
    "monotonically_increasing_id", "spark_partition_id",
    "input_file_name", "input_file_block_start",
    "input_file_block_length", "version")

  /** First sub-expression of `e` whose value depends on the evaluation
    * environment (non-deterministic, or an [[EnvBoundFns]] call), as
    * display text — None when the expression is a pure function of the
    * row. WHY a WRITE-TIME contract: an UPDATE assignment is recorded
    * as SQL text and re-EVALUATED at replica replay
    * ([[replicate]]), and even on the source each affected unit
    * rewrites in its own job — `current_timestamp()` would stamp
    * different values per unit and diverge replica bytes from source
    * bytes silently. Refused typed at record time ([[update]])
    * and, defense-in-depth for records minted by foreign writers, at
    * replay time. */
  private[graft] def environmentBound(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] =
    e.collectFirst {
      case x if !x.deterministic => x
      case x: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if EnvBoundFns(x.nameParts.last.toLowerCase) => x
      case x if EnvBoundFns(x.prettyName.toLowerCase) => x
    }.map(x => scala.util.Try(x.sql).getOrElse(x.toString))

  /** The statement-record kinds sharing one global `seq` and one fold:
    * the six local DELETE/UPDATE kinds, one per [[DmlTarget]] shape
    * (`del`/`upd` boxes, `delk`/`updk` keys, `dels`/`upds` string
    * spans — all written by [[rewriteMarkedUnits]]), replicated source
    * statements ([[replicate]]'s `sdml-<srcSeq>` replays), and merges
    * (`mrg-<ledgerId>`, recorded at commit by [[mergeRows]] — `boxes`
    * empty, `sets` = the merge key by convention, the updates snapshot
    * at `markers/mrg-<id>.updates`). */
  private val DmlKinds = Seq("del", "delk", "dels", "upd", "updk",
    "upds", "sdml", "mrg")

  /** Sentinel first `sets` pair of a KEYED DML record (`delk` deletes
    * and `updk` updates): marks the payload as (keyCol, type, keys
    * [, assignments]) rather than plain box-update assignments, so
    * [[replicate]] replays it as a keyed statement even out of an
    * `sdml` record (chained replication). `__graft`-prefixed names are
    * reserved (update assignment targets refuse them), so a real
    * assignment can never forge the tag. */
  private val KeyedDmlTag = "__graft_keyed_dml"
  private val KeyedTypeTag = "__graft_key_type"

  /** Tagged-payload values are URL-encoded: keys and bounds are user
    * data (tabs/newlines/unicode must survive the line-based record
    * format exactly), and an assignment rides as `enc(col) enc(sql)`
    * (URL-encoding never emits a space, so the space splits exactly). */
  private def urlEnc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def encodeAssigns(assigns: Seq[(String, String)]) =
    assigns.map { case (c, sql) => "set" -> s"${urlEnc(c)} ${urlEnc(sql)}" }

  private def decodeAssigns(sets: Seq[(String, String)], what: String) =
    sets.collect { case ("set", v) =>
      v.split(" ", 2) match {
        case Array(c, sql) => urlDec(c) -> urlDec(sql)
        case _ => throw new IllegalStateException(
          s"$what DML record carries a malformed assignment: '$v'")
      }
    }

  /** One STRING-RANGE takedown shape — the DOMAIN statement
    * (`WHERE url LIKE 'https://spam.example/%'`, `WHERE s BETWEEN 'a'
    * AND 'b'`) the point-keyed surface cannot express: either a
    * PREFIX (every string starting with `p` — `LIKE 'p%'` with no
    * other wildcards) or a one-column RANGE with optional bounds and
    * per-bound inclusivity. Comparisons are Spark/DuckDB's binary
    * (UTF-8 byte) string order — the same order the driver-side unit
    * pruning uses ([[utf8Cmp]]), so a pruning decision and the
    * rewrite predicate can never disagree. */
  sealed trait StrShape
  final case class StrPrefix(prefix: String) extends StrShape
  final case class StrRange(lo: Option[String], loInc: Boolean,
      hi: Option[String], hiInc: Boolean) extends StrShape {
    require(lo.nonEmpty || hi.nonEmpty,
      "StrRange: at least one bound (an unbounded string rewrite is " +
        "a full-table statement — use a box delete on the cluster key)")
  }

  /** Sentinel first `sets` pair of a STRING-RANGE DML record (`dels`
    * deletes and `upds` updates) — the [[KeyedDmlTag]] convention for
    * the range shapes, so [[replicate]] replays them out of `sdml`
    * records too (chained replication). */
  private val StrRangeDmlTag = "__graft_str_range_dml"

  /** WHAT one DELETE/UPDATE statement selects — the only part of the
    * lakehouse DML that differs by predicate shape. The prune →
    * rewrite → record → replay machinery is shared: [[delete]],
    * [[update]], [[dmlNext]], [[rewriteMarkedUnits]] and
    * [[replicate]]. Each case owns its argument contract, its NULL-safe
    * row predicate (a row whose selecting value is NULL is never hit —
    * three-valued logic, the row is kept/untouched), its conservative
    * unit pruner and its record payload:
    *
    *  - [[DmlTarget.Boxes]]: a union of conjunctive inclusive boxes
    *    over LONG columns (`del`/`upd`), pruned by footer stats.
    *  - [[DmlTarget.Keys]]: a key list over one LONG or STRING column
    *    (`delk`/`updk` — the doc-id takedown), pruned by stats and the
    *    unit Bloom sidecars ([[Grid.bloomCols]]; without a bloom every
    *    unit conservatively rewrites). Keys are non-NULL, homogeneous,
    *    deduped and bounded by [[MaxDeleteKeys]] — they ride in the
    *    record and drive driver bloom probes.
    *  - [[DmlTarget.StrSpan]]: a [[StrShape]] prefix or range over one
    *    STRING column (`dels`/`upds` — the domain takedown), pruned by
    *    the string stats sidecar in binary UTF-8 order.
    *
    * A statement may be SCOPED to `__batch <= scope` (replica replay;
    * `Long.MaxValue` = unscoped): boxes carry the scope as one more
    * range in every box, keys and string spans as one batch box in the
    * record's `boxes` — which is how a chained replay reads back the
    * scope it applied under. */
  sealed trait DmlTarget {
    /** The `(delete, update)` record kinds, each its own id namespace. */
    private[streaming] def kinds: (String, String)
    /** The column the predicate selects by — an UPDATE may not assign
      * it (it would rewrite what the statement means on replay). */
    private[graft] def selectCol: Option[String]
    /** Provably matches nothing: the SQL commands run it as a no-op
      * (no rewrite, no minted id, no ledger entry); the explicit-id
      * API refuses it (an empty statement given a permanent id is a
      * caller bug). */
    def isEmpty: Boolean
    /** The argument contract; returns the normalized target. `known`
      * is [[knownColumns]], evaluated only by shapes that check a
      * column. */
    private[streaming] def validate(what: String,
        known: => Option[Map[String, DataType]]): DmlTarget
    private[streaming] def hit(scope: Long): Column
    private[streaming] def pruner(spark: SparkSession, dir: String,
        scope: Long): (FileSystem, Path) => Boolean
    /** The record's `(boxes, sets)` payload. */
    private[streaming] def record(scope: Long,
        assigns: Seq[(String, String)])
        : (Seq[Seq[(String, Long, Long)]], Seq[(String, String)])
  }

  object DmlTarget {
    final case class Boxes(boxes: Seq[Seq[(String, Long, Long)]])
        extends DmlTarget {
      private[streaming] def kinds = ("del", "upd")
      private[graft] def selectCol: Option[String] = None
      def isEmpty: Boolean = boxes.isEmpty
      private[streaming] def validate(what: String,
          known: => Option[Map[String, DataType]]): DmlTarget = {
        require(boxes.nonEmpty && boxes.forall(_.nonEmpty),
          s"$what: empty box")
        this
      }
      private def scoped(scope: Long) =
        if (scope == Long.MaxValue) boxes
        else boxes.map(_ :+ ((BatchCol, Long.MinValue, scope)))
      private[streaming] def hit(scope: Long): Column =
        coalesce(scoped(scope).map(_.map { case (c, lo, hi) =>
          col(c) >= lo && col(c) <= hi
        }.reduce(_ && _)).reduce(_ || _), lit(false))
      private[streaming] def pruner(spark: SparkSession, dir: String,
          scope: Long): (FileSystem, Path) => Boolean = {
        val bs = scoped(scope)
        (f, d) => bs.exists(_.forall { case (c, lo, hi) =>
          rangeHits(f, d, c, lo, hi) })
      }
      private[streaming] def record(scope: Long,
          assigns: Seq[(String, String)]) = (scoped(scope), assigns)
    }

    final case class Keys(col: String, keys: Seq[Any]) extends DmlTarget {
      private def keyIsLong = keys.headOption.exists(_.isInstanceOf[Long])
      private[streaming] def kinds = ("delk", "updk")
      private[graft] def selectCol: Option[String] = Some(col)
      def isEmpty: Boolean = keys.isEmpty
      private[streaming] def validate(what: String,
          known: => Option[Map[String, DataType]]): DmlTarget = {
        require(keys.nonEmpty, s"$what: no keys")
        require(!keys.contains(null),
          s"$what: NULL keys are not supported — a NULL never matches " +
            "(SQL IN semantics), so the statement could not touch " +
            "anything")
        val distinct = keys.distinct
        require(distinct.size <= MaxDeleteKeys,
          s"$what: ${distinct.size} distinct keys — a keyed statement " +
            "this large is a rewrite in disguise; split it or use a box " +
            "statement on a range")
        require(distinct.forall(k =>
            if (keyIsLong) k.isInstanceOf[Long] else k.isInstanceOf[String]),
          s"$what: keys must be all Long or all String (the bloom " +
            "sidecar types)")
        val want = if (keyIsLong) LongType else StringType
        columnType(what, known, col).foreach(dt => require(dt == want,
          s"$what: column '$col' is ${dt.simpleString} but the keys " +
            s"are ${want.simpleString} — a mistyped key can never " +
            "match; cast the keys, not the column"))
        Keys(col, distinct)
      }
      private[streaming] def hit(scope: Long): Column = scopedHit(
        coalesce(functions.col(col).isin(keys: _*), lit(false)), scope)
      private[streaming] def pruner(spark: SparkSession, dir: String,
          scope: Long): (FileSystem, Path) => Boolean = {
        val probeBloom = keys.size.toLong *
          math.max(1, listUnits(spark, dir).size) <= KeyedBloomProbeBudget
        if (!probeBloom) keyedBloomBudgetSkips += 1
        val ls = keys.collect { case l: Long => l }
        keyPruner(col, if (keyIsLong) Some((ls.min, ls.max)) else None,
          if (probeBloom) keys else Nil, scope)
      }
      /** `(tag, col)`, the key type, every key, the assignments. */
      private[streaming] def record(scope: Long,
          assigns: Seq[(String, String)]) = (batchBox(scope),
        (KeyedDmlTag -> col) +:
          (KeyedTypeTag -> (if (keyIsLong) "long" else "string")) +:
          (keys.map(k => "k" -> urlEnc(k.toString)) ++
            encodeAssigns(assigns)))
    }

    final case class StrSpan(col: String, shape: StrShape)
        extends DmlTarget {
      private[streaming] def kinds = ("dels", "upds")
      private[graft] def selectCol: Option[String] = Some(col)
      /** A bounded range whose lo exceeds hi in byte order, or meets
        * it with an exclusive end. */
      def isEmpty: Boolean = shape match {
        case StrRange(Some(l), loInc, Some(h), hiInc) =>
          utf8Cmp(l, h) > 0 || (utf8Cmp(l, h) == 0 && !(loInc && hiInc))
        case _ => false
      }
      private[streaming] def validate(what: String,
          known: => Option[Map[String, DataType]]): DmlTarget = {
        require(!isEmpty,
          s"$what: provably-empty range ($shape) — it matches no " +
            "string; the SQL surface no-ops these, the explicit-id API " +
            "refuses them")
        columnType(what, known, col).foreach(dt =>
          require(dt == StringType,
            s"$what: column '$col' is ${dt.simpleString} — " +
              "string-range statements only apply to STRING columns; " +
              "long columns take the box surface"))
        this
      }
      private[streaming] def hit(scope: Long): Column =
        scopedHit(strShapeHit(col, shape), scope)
      private[streaming] def pruner(spark: SparkSession, dir: String,
          scope: Long): (FileSystem, Path) => Boolean =
        (f, d) => unitRows(f, d) > 0 && inScope(f, d, scope) &&
          strShapeMayHit(f, d, col, shape)
      /** `(tag, col)`, the shape (`pfx`, or `lo`/`hi` with an `i`/`x`
        * inclusivity flag), the assignments. */
      private[streaming] def record(scope: Long,
          assigns: Seq[(String, String)]) = {
        def bound(k: String, v: Option[String], inc: Boolean) =
          v.map(b => k -> s"${if (inc) "i" else "x"} ${urlEnc(b)}")
        val shapePart = shape match {
          case StrPrefix(p) => Seq("pfx" -> urlEnc(p))
          case StrRange(lo, loInc, hi, hiInc) =>
            bound("lo", lo, loInc).toSeq ++ bound("hi", hi, hiInc)
        }
        (batchBox(scope),
          (StrRangeDmlTag -> col) +: (shapePart ++ encodeAssigns(assigns)))
      }
    }

    /** A record back to its statement: the target, its assignment SQL
      * (empty for a delete) and the batch scope it was recorded under
      * (`Long.MaxValue` when unscoped; a box record keeps its scope
      * inside its boxes). The payload tag, not the kind, names the
      * shape, so an `sdml` replay of any shape decodes too. */
    private[streaming] def decode(r: DmlRecord)
        : (DmlTarget, Seq[(String, String)], Long) = {
      val scope = r.boxes.flatten.collectFirst {
        case (c, _, hi) if c == BatchCol => hi }.getOrElse(Long.MaxValue)
      r.sets match {
        case (KeyedDmlTag, c) +: rest =>
          val isLong = rest.collectFirst {
            case (KeyedTypeTag, t) => t }.contains("long")
          val keys = rest.collect { case ("k", v) =>
            if (isLong) (urlDec(v).toLong: Any) else (urlDec(v): Any) }
          (Keys(c, keys), decodeAssigns(rest, "keyed"), scope)
        case (StrRangeDmlTag, c) +: rest =>
          def bound(key: String) = rest.collectFirst { case (`key`, v) =>
            v.split(" ", 2) match {
              case Array(flag, b) => (urlDec(b), flag == "i")
              case _ => throw new IllegalStateException(
                s"string-range DML record carries a malformed bound: '$v'")
            }
          }
          val shape = rest.collectFirst {
            case ("pfx", p) => StrPrefix(urlDec(p)) }.getOrElse {
            val (lo, hi) = (bound("lo"), bound("hi"))
            StrRange(lo.map(_._1), lo.forall(_._2), hi.map(_._1),
              hi.forall(_._2))
          }
          (StrSpan(c, shape), decodeAssigns(rest, "string-range"), scope)
        case _ => (Boxes(r.boxes), r.sets, Long.MaxValue)
      }
    }

    private def batchBox(scope: Long) =
      if (scope == Long.MaxValue) Nil
      else Seq(Seq((BatchCol, Long.MinValue, scope)))
    private def scopedHit(hit: Column, scope: Long) =
      if (scope == Long.MaxValue) hit
      else hit && functions.col(BatchCol) <= scope
    private def columnType(what: String,
        known: Option[Map[String, DataType]], c: String) =
      known.map(k => k.getOrElse(c, throw new IllegalArgumentException(
        s"$what: unknown column '$c' (table has ${k.keySet})")))
  }

  /** The table's column types for argument validation: the stored
    * schema, else the served columns; None when the table has neither
    * (no rows to miss — a statement validates against nothing). */
  private def knownColumns(spark: SparkSession, dir: String)
      : Option[Map[String, DataType]] =
    tableSchema(spark, dir).orElse {
      if (listUnits(spark, dir).isEmpty) None
      else Some(read(spark, dir).schema)
    }.map(_.fields.map(fd => fd.name -> fd.dataType).toMap)

  /** Every unit under `data/` (none before the first publish). */
  private def listUnits(spark: SparkSession, dir: String)
      : Seq[(String, Path)] = {
    val (f, data) = DedupIngest.fs(spark, s"$dir/data")
    if (!f.exists(data)) Nil else leafUnits(f, data)
  }

  /** The ids of the `<prefix><id><suffix>` names among `names`. */
  private def idsOf(names: Seq[String], prefix: String,
      suffix: String = ""): Seq[Long] = {
    val pat = s"\\Q$prefix\\E(\\d+)\\Q$suffix\\E".r
    names.collect { case pat(i) => i.toLong }
  }

  /** One marker, manifest or sidecar file's lines. */
  private def readMarkerLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def writeFile(f: FileSystem, p: Path, body: String): Unit = {
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Publish `markers/<name>` WHOLE: write `<name>.tmp`, then rename
    * over any older copy — so an existing file always parses, and a
    * crash mid-write leaves only the tmp, which the owed replay
    * overwrites. Every marker whose body is state goes through here:
    * DML records, the dml-log, the promotion fence, chunk plans and
    * merge intents. */
  private def publishWhole(f: FileSystem, markers: Path, name: String,
      body: String): Unit = {
    val (tmp, p) = (new Path(markers, s"$name.tmp"), new Path(markers, name))
    writeFile(f, tmp, body)
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new IllegalStateException(
        s"LayoutIngest: publish of $name failed under $markers")
  }

  /** Records folded out of the live marker listing by
    * [[foldDmlMarkers]] — the union of every `dml-log-<k>` file
    * (normally one; a crash between a fold's publish and its cleanup
    * leaves a superseded log or still-live markers, deduped by
    * (kind, id) everywhere downstream).
    *
    * CACHED on the log files' (name, mtime, length) fingerprint (the
    * grid-cache pattern): every DML statement, mint, [[history]] call
    * and replica sync reads the log, and while one read is small
    * (statements are compliance-cadence ops), hot paths — per-sync
    * minting, battery warm replays — re-parse an unchanged file. Logs
    * are IMMUTABLE once published (written whole + renamed; a fold
    * mints a NEW `dml-log-<k>`, and `k` is MONOTONIC — the fold
    * computes max-existing + 1 and deletes superseded logs only
    * AFTER the higher log publishes, so a name is never reused), so
    * an equal fingerprint is an exact hit; any fold/crash-cleanup
    * changes the listing and misses. Two belts against the
    * fingerprint's edges: the cache KEY is the filesystem-qualified
    * markers path (two spellings of one dir — trailing slash, scheme
    * — share one entry), and a fingerprint whose newest mtime is
    * within the last [[DmlLogMtimeSlackMs]] is never served from
    * cache (coarse-mtime filesystems stamp whole seconds; a
    * hypothetical same-name same-length rewrite inside that second
    * would be indistinguishable, so the window re-reads; var — the
    * cache spec pins the hit path without waiting the window out). */
  private[graft] var DmlLogMtimeSlackMs = 2000L
  private val dmlLogCache =
    new Lru[String, (Seq[(String, Long, Long)], Seq[DmlRecord])](1024)
  /** Test instrumentation for the cache (no behavior rides on them). */
  private[graft] var dmlLogCacheHits = 0L
  private[graft] var dmlLogCacheMisses = 0L

  private def dmlLogEntries(spark: SparkSession,
      dir: String): Seq[DmlRecord] = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    if (!f.exists(markers)) return Nil
    val logs = f.listStatus(markers).toSeq
      .filter(_.getPath.getName.matches("dml-log-\\d+"))
    val print = logs.map(s => (s.getPath.getName,
      s.getModificationTime, s.getLen)).sortBy(_._1)
    val key = f.makeQualified(markers).toString
    // a just-written log's mtime second may not have closed yet —
    // inside the slack window the fingerprint is not yet decisive
    val settled = print.forall(p =>
      System.currentTimeMillis() - p._2 >= DmlLogMtimeSlackMs)
    val hit = dmlLogCache.get(key).filter(c => settled && c._1 == print)
    dmlLogCache.synchronized {
      if (hit.isDefined) dmlLogCacheHits += 1 else dmlLogCacheMisses += 1
    }
    hit.map(_._2).getOrElse {
      val parsed = parseDmlLogs(f, logs)
      dmlLogCache.put(key, (print, parsed))
      parsed
    }
  }

  private def parseDmlLogs(f: FileSystem,
      logs: Seq[FileStatus]): Seq[DmlRecord] = {
    logs.flatMap { s =>
      // lock-free readers (history, records) can race a fold's
      // old-log delete — the superseding log carries every record
      val lines =
        try readMarkerLines(f, s.getPath)
        catch { case _: java.io.FileNotFoundException => Nil }
      // split on record headers; each group parses independently
      val groups = scala.collection.mutable.Buffer
        .empty[scala.collection.mutable.Buffer[String]]
      lines.foreach { l =>
        if (l.startsWith("graft-dml v1 "))
          groups += scala.collection.mutable.Buffer(l)
        else if (groups.nonEmpty) groups.last += l
      }
      groups.toSeq.flatMap { g =>
        g.head.stripPrefix("graft-dml v1 ").split(" ") match {
          case Array(k, i, _, _) if DmlKinds.contains(k) =>
            Some(DmlRecord.parse(k, i.toLong, g.toSeq, None))
          case _ => None
        }
      }
    }.groupBy(r => (r.kind, r.id)).values.map(_.head).toSeq
  }

  /** Fold the individual `del-*`/`upd-*`/`sdml-*` markers into ONE
    * `dml-log-<k>` file — the DML ledger's analogue of the ingest
    * fold ([[compactMarkers]]). WHY: the markers are each statement's
    * permanent idempotence + replay record, and
    * [[dmlNext]]/[[history]]/[[replicate]]
    * all list (and for records, READ) the whole namespace — at a
    * daily-retention cadence on a 100 TB deployment that listing
    * grows without bound. The fold keeps the dir at one log file +
    * the statements since. EXACT: every record survives with its
    * boxes, assignment SQL, global seq, scope watermark, and commit
    * mtime (stamped into the record at fold time), so [[history]] and
    * replica replay read the same facts before and after. Crash-safe:
    * the new log is written whole and renamed, markers and superseded
    * logs are deleted after, and every intermediate state reads
    * correctly because [[dmlRecords]] dedupes (kind, id) across live
    * markers and ALL surviving logs. Runs from [[vacuum]] under the
    * maintenance lock (DML markers are maintenance-lock state — the
    * per-batch ingest fold must not race it on the same dir). */
  private def foldDmlMarkers(spark: SparkSession, dir: String): Int = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    if (!f.exists(markers)) return 0
    val listed = f.listStatus(markers).toSeq
    val names = listed.map(_.getPath.getName)
    val nameSet = names.toSet
    // an mrg record whose COMMIT marker is still absent is in-flight
    // state (the crash window between record and marker): it must stay
    // a live file — the owed replay's record-exists check reads it,
    // and folding it would let that replay re-mint a misordered seq
    val liveNames = names.filter(n =>
      DmlKinds.exists(k => n.matches(s"$k-\\d+")) &&
        !(n.startsWith("mrg-") &&
          !nameSet(s"merge-${n.stripPrefix("mrg-")}")))
    if (liveNames.isEmpty) return 0
    val byName = listed.map(s => s.getPath.getName -> s).toMap
    val all = dmlRecords(spark, dir)
      // same rule for the log side: an uncommitted mrg record never
      // enters the log — so a FOLDED mrg record always means
      // COMMITTED, which is what lets the merge-<id> commit marker
      // itself retire below (the ledger-id occupation survives via
      // the merge's own batch marker / watermark)
      .filter(r => r.kind != "mrg" || !nameSet(s"mrg-${r.id}") ||
        nameSet(s"merge-${r.id}"))
      .map { r =>
        // pin the commit time into the folded record — after the
        // marker is gone the record is the only witness. A merge's
        // history row shows the COMMIT marker's mtime, so that is
        // what its record must carry.
        if (r.kind == "mrg" && nameSet(s"mrg-${r.id}"))
          r.copy(atMs = byName.get(s"merge-${r.id}")
            .map(_.getModificationTime).orElse(r.atMs))
        else if (r.atMs.isDefined) r
        else r.copy(atMs = Some(System.currentTimeMillis()))
      }
    val oldLogs = names.filter(_.matches("dml-log-\\d+"))
    val k = idsOf(oldLogs, "dml-log-").foldLeft(-1L)(math.max) + 1L
    publishWhole(f, markers, s"dml-log-$k",
      all.sortBy(_.seq).map(DmlRecord.serialize).mkString("\n"))
    // the COMMIT markers of folded merges retire with their records:
    // the folded mrg record is the committed-proof, the batch marker /
    // watermark keeps the ledger id occupied, and history reads the
    // record — the merge namespace stops growing per statement. Swept
    // from the NEW log's mrg ids (not just this round's live records):
    // a crash between a previous fold's record delete and marker
    // delete leaves a marker whose record is already folded.
    val mergeMarkers = all.filter(_.kind == "mrg")
      .map(r => s"merge-${r.id}")
      .filter(nameSet)
    (liveNames ++ mergeMarkers ++ oldLogs).foreach(n =>
      f.delete(new Path(markers, n), false): Unit)
    liveNames.size + mergeMarkers.size
  }

  /** The [[foldDmlMarkers]] class-5 sweep on its own (the DML
    * analogue of [[compactMarkers]]) — under the maintenance lock,
    * like every DML-marker writer. Returns how many individual
    * markers folded. */
  def compactDmlMarkers(spark: SparkSession, dir: String): Int =
    withMaintLock(spark, dir)(foldDmlMarkers(spark, dir))

  /** EVERY recorded DML statement on `dir` — folded log entries plus
    * live `del-* `/`upd-*`/`sdml-*` markers (live wins the dedupe: its
    * mtime is fresher than a superseded log's copy). */
  private[graft] def dmlRecords(spark: SparkSession,
      dir: String): Seq[DmlRecord] = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val live =
      if (!f.exists(markers)) Nil
      else f.listStatus(markers).toSeq.flatMap { s =>
        val n = s.getPath.getName
        DmlKinds.find(k => n.matches(s"$k-\\d+")).flatMap { k =>
          // a lock-free reader (history(), replicate() on the source)
          // can list a marker just before a concurrent vacuum's
          // [[foldDmlMarkers]] deletes it — drop the entry and let the
          // log side recover the record (the fold publishes the new
          // dml-log BEFORE deleting markers, so the fact is never
          // lost); same race-tolerance [[dmlLogEntries]] grants the
          // fold's old-log delete
          try Some(DmlRecord.parse(k, n.stripPrefix(s"$k-").toLong,
            readMarkerLines(f, s.getPath), Some(s.getModificationTime)))
          catch { case _: java.io.FileNotFoundException => None }
        }
      }
    val liveKeys = live.map(r => (r.kind, r.id)).toSet
    live ++ dmlLogEntries(spark, dir)
      .filterNot(r => liveKeys((r.kind, r.id)))
  }

  /**
   * Targeted DELETE (the right-to-be-forgotten surface on the
   * clustered table) — where the layout pays off TWICE: the rows the
   * [[DmlTarget]] selects are removed by rewriting ONLY the units its
   * pruner admits (footer stats for boxes, Bloom sidecars for keys,
   * string stats for string spans). On a clustered table a thin box
   * touches a handful of units (the r12 layout-probe numbers); a
   * time-ordered table would rewrite everything. Each affected unit
   * rewrites through the SAME WAL manifest as [[compact]] (stage the
   * filtered copy, record (target, source, COMMIT), publish by rename,
   * drop the source) — crash at any point converges via
   * [[recoverCompact]], and readers stay correct throughout
   * ([[read]]'s publish-point rule). One maintenance hold, ONE ledger
   * entry (`<kind>-<id>`, the kind from [[DmlTarget]]), at most one
   * rewrite per affected unit however many boxes or keys name it.
   * Idempotent behind the marker: a replay after a mid-delete crash
   * re-filters the already-filtered units (a no-op rewrite) and
   * finishes the rest. RECORDED — the marker carries the statement, so
   * [[replicate]] replays it on every replica scoped
   * `__batch <= upto`. Returns false when the marker shows the delete
   * already committed.
   *
   * NULL-safe: only rows where the predicate is TRUE are deleted.
   * Under three-valued logic a NULL column makes the naive NOT(pred)
   * evaluate to NULL and filter() would silently DESTROY the row (nulls
   * are legal in grid columns — quantization folds them to the minimum
   * cell — and pre-evolution units read added columns as NULL).
   *
   * 100 TB: pruning is metadata-only; each affected unit rewrites once
   * through a codegen'd filter; nothing collects or shuffles.
   */
  def delete(spark: SparkSession, dir: String, target: DmlTarget,
      id: Long): Boolean = {
    val t = target.validate("delete", knownColumns(spark, dir))
    rewriteMarkedUnits(spark, dir, t.kinds._1, id, t, Long.MaxValue,
      Nil, Nil)
  }

  /** In-place UPDATE — the REDACTION surface (null out or overwrite
    * payload columns for the rows a [[DmlTarget]] selects WITHOUT
    * deleting them — the compliance op deletion is too blunt for). Same
    * machinery as [[delete]]: only admitted units rewrite, each
    * through the WAL manifest, idempotent behind an `<kind>-<id>`
    * marker whose record carries every assignment's SQL.
    *
    * `sets` assigns payload columns from deterministic expressions
    * over the row's UNTOUCHED columns ([[validateAssignSets]]). A key
    * or string-span target may not assign its own selecting column —
    * that rewrites row identity, what the statement means on replay
    * (use MERGE or delete + insert). Rows the predicate does not hit
    * (or where it is NULL) keep every column untouched.
    *
    * REPLAY after a mid-operation crash (same id): exact — the replay
    * skips the crashed attempt's own published rewrites by their
    * `gen-<kind><id>-` name prefix, so even a NON-idempotent assignment
    * (none are recordable today — that would need a self-read — but
    * the skip predates the gate and guards records minted by older
    * writers) applies exactly once per row. The contract assumes the
    * standard crash-recovery discipline: replay the owed op before any
    * OTHER maintenance renames those units (the maintenance lock's
    * break-then-look rule). The SQL path never replays — a driver
    * retry mints a new id ([[dmlNext]]).
    *
    * The CLUSTER-DERIVED columns are not assignable: the grid columns
    * and [[KeyCol]] decide where a row lives (stats, blooms,
    * range-split leaves), so changing them in place would strand the
    * row under a stale key — move rows with delete + insert, or
    * [[regrid]]. [[BatchCol]] is immutable provenance; consistent
    * with [[delete]], an in-place redaction is NOT re-emitted to CDC
    * readers (the row keeps its original `__batch`). */
  def update(spark: SparkSession, dir: String, target: DmlTarget,
      sets: Seq[(String, Column)], id: Long): Boolean = {
    lazy val known = knownColumns(spark, dir)
    val t = target.validate("update", known)
    val setsRecord = validateAssignSets(spark, dir, sets, known)
    t.selectCol.filter(c => sets.exists(_._1 == c)).foreach(c =>
      throw new IllegalArgumentException(
        s"update: assigning the selecting column '$c' itself rewrites " +
          "row identity — what the statement means on replay; use " +
          "MERGE (whole-row) or delete + insert"))
    rewriteMarkedUnits(spark, dir, t.kinds._2, id, t, Long.MaxValue,
      sets, setsRecord)
  }

  /** [[delete]] (empty `sets`) or [[update]] under the NEXT UNUSED id
    * of the target's kind — the body behind SQL `DELETE FROM` and
    * `UPDATE` on the relation. Each kind is its own marker namespace,
    * scanned fresh per attempt INCLUDING id-stamped crash debris
    * ([[occupiedDmlIds]] — a crashed statement's published-but-
    * unmarked rewrites occupy its id, so a fresh statement never
    * adopts them); a concurrent statement that wins the id turns this
    * attempt into a marker no-op (false), and the loop re-mints —
    * bounded, since every loss means another statement COMMITTED.
    * Same retry caveat as [[appendNext]]: a driver-level retry of the
    * whole statement is a new statement, not a replay. Returns the id
    * the statement committed under. */
  private[graft] def dmlNext(spark: SparkSession, dir: String,
      target: DmlTarget, sets: Seq[(String, Column)]): Long = {
    val kind = if (sets.isEmpty) target.kinds._1 else target.kinds._2
    withFreshId(s"dmlNext ($kind)", dir)(
      occupiedDmlIds(spark, dir, kind).foldLeft(-1L)(math.max) + 1L) { id =>
      if (sets.isEmpty) delete(spark, dir, target, id)
      else update(spark, dir, target, sets, id)
    }
  }

  /** The fresh-id race loop under [[dmlNext]] and [[mergeRowsNext]]:
    * mint, try to commit under the id, re-mint when `claim` reports the
    * id lost (false). Bounded, since every loss means another writer
    * COMMITTED. Returns the id the claim committed under. */
  private def withFreshId(what: String, dir: String)(mint: => Long)(
      claim: Long => Boolean): Long = {
    @scala.annotation.tailrec
    def attempt(lost: Int): Long = {
      val id = mint
      if (claim(id)) id
      else {
        require(lost + 1 < 16,
          s"$what: lost the id race ${lost + 1} times on $dir — a " +
            "pathological storm of concurrent writers")
        attempt(lost + 1)
      }
    }
    attempt(0)
  }

  /** The assignment contract of [[update]]: non-empty distinct
    * targets; cluster-derived/provenance columns and the reserved
    * `__graft` prefix refused (the grid columns and [[KeyCol]] decide
    * where a row LIVES; the prefix carries engine record tags a forged
    * assignment could make a replica mis-replay); targets must exist
    * (`known` = [[knownColumns]] — without it a typo'd target would
    * silently never apply; a table with neither schema nor data has no
    * rows to miss); and the RECORD-TIME replayability gates — the
    * assignment is recorded as SQL text and re-evaluated at replica
    * replay (and once per affected unit even on the source), so an
    * environment-bound value (current_timestamp(), rand(), uuid(),
    * current_user()) would write DIFFERENT bytes per evaluation, and a
    * SELF-REFERENTIAL value (reading any assigned column) cannot
    * re-apply exactly over a replica's pre- or post-statement bytes —
    * both silently diverge replicas, both refused here rather than
    * poisoning the record stream for every later sync.
    * Returns the (column, SQL) record pairs. */
  private def validateAssignSets(spark: SparkSession, dir: String,
      sets: Seq[(String, Column)],
      known: => Option[Map[String, DataType]]): Seq[(String, String)] = {
    require(sets.nonEmpty, s"update: no assignments")
    require(sets.map(_._1).distinct.size == sets.size,
      s"update: duplicate assignment targets in ${sets.map(_._1)}")
    val gridNow = readGrid(spark, dir)
    val reserved = (gridNow.cols :+ KeyCol :+ BatchCol).toSet
    sets.foreach { case (c, _) =>
      require(!reserved(c),
        s"update: '$c' is a cluster-derived or provenance " +
          "column — not assignable in place (delete + insert, or " +
          "regrid, to move rows)")
      require(!c.startsWith("__graft"),
        s"update: '$c' — the __graft prefix is reserved for " +
          "engine-internal columns and record tags")
    }
    val cols = known.map(_.keySet).getOrElse(Set.empty[String])
    sets.foreach { case (c, _) =>
      require(cols.isEmpty || cols(c),
        s"update: unknown column '$c' (table has $cols)")
    }
    // RECORD-TIME twin of the replica-replay gates (replicateBody):
    // a recorded statement must be replayable, and two value shapes
    // can never be — environment-bound expressions (re-evaluate to
    // different bytes) and SELF-REFERENTIAL ones (an assignment
    // reading any ASSIGNED column: under at-least-once replay a
    // replica may hold pre- OR post-statement bytes, so `v = v + 1`
    // or a `v = w, w = v` swap cannot be re-applied exactly).
    // Refusing them HERE, not at sync time, is what keeps one bad
    // statement from minting a poison record that permanently fails
    // every subsequent replicate() of the table. The replay-side
    // gates stay as defense-in-depth against foreign/older writers.
    // Self-referential shapes still have a replica-exact spelling:
    // MERGE's partial UPDATE SET (`SET value = t.value + s.delta`)
    // snapshots the post-statement rows, so replicas replay bytes,
    // not expressions.
    val assigned = sets.map(_._1.toLowerCase).toSet
    sets.map { case (c, e) =>
      val ex = org.apache.spark.sql.graftbridge.ColumnBridge
        .catalystExpr(e)
      environmentBound(ex).foreach(bad =>
        throw new IllegalArgumentException(
          s"update: assignment to '$c' reads the evaluation " +
            s"environment ($bad) — it cannot rewrite the same bytes " +
            "on replay or replica sync; evaluate it once and assign " +
            "the resulting literal instead"))
      val refs = ex.collect {
        case u: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => u.nameParts.last.toLowerCase
        case a: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => a.name.toLowerCase
      }
      refs.toSet.intersect(assigned).headOption.foreach(bad =>
        throw new IllegalArgumentException(
          s"update: assignment to '$c' reads an assigned column " +
            s"('$bad') — self-referential assignments cannot " +
            "replay exactly under at-least-once replica sync, so they " +
            "are refused at record time; read only untouched columns, " +
            "or use MERGE (its updates snapshot replays bytes, not " +
            "expressions)"))
      c -> ex.sql
    }
  }

  /** The ONE unit rewriter under every DELETE/UPDATE — source
    * statements ([[delete]]/[[update]]) and replica replays
    * ([[replicate]]'s scoped `sdml`): under the maintenance lock,
    * idempotent behind the `<kind>-<id>` marker (live or folded into
    * the [[foldDmlMarkers]] log), rewrite exactly the units the
    * target's pruner admits, each through the same WAL manifest as
    * [[compact]] — dropping the rows `target.hit(scope)` selects
    * (empty `sets`) or projecting `sets` onto them. The commit marker
    * carries the full statement as a [[DmlRecord]] (the target's
    * payload, the `setsRecord` assignment SQL, the global DML `seq`,
    * the batch watermark `upto`) — what [[replicate]] replays. */
  private def rewriteMarkedUnits(spark: SparkSession, dir: String,
      kind: String, id: Long, target: DmlTarget, scope: Long,
      sets: Seq[(String, Column)],
      setsRecord: Seq[(String, String)]): Boolean = {
    val hit = target.hit(scope)
    val affects = target.pruner(spark, dir, scope)
    val (recBoxes, recSets) = target.record(scope, setsRecord)
    val setMap = sets.toMap
    def transform(df: DataFrame): DataFrame =
      if (sets.isEmpty) df.filter(!hit)
      else df.select(df.columns.toSeq.map { c =>
        setMap.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    refuseReplicaWrite(spark, dir, s"$kind-$id")
    maintSection(spark, dir, s"$kind-$id") {
      val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
      if (committedStatement(spark, dir, s"$kind-$id", kind, id)) false
      else {
        // recorded BEFORE the unit listing: batches committing during
        // the rewrite are not in the listing, so the statement's scope
        // is exactly "rows of batches <= upto" (plus any committed
        // above a gap — served post-rewrite to any later reader, so a
        // replica stays exact either way; see [[replicate]])
        val upto = contiguousCommittedBatch(spark, dir)
        val seq = nextDmlSeq(spark, dir)
        // a REPLAY after a mid-operation crash (marker not yet
        // created) must not re-transform units the crashed attempt
        // already PUBLISHED — its own outputs are recognizable by the
        // id-scoped name prefix. For a delete this only saves a no-op
        // rewrite; for an UPDATE it is what makes a non-idempotent
        // assignment (value = value + 1) replay-safe. Holds under the
        // crash-recovery discipline the maintenance lock imposes
        // (break the dead holder's lock, replay the owed op BEFORE
        // any other maintenance renames those units).
        rewriteUnits(spark, dir, f, s"$kind$id",
          admitted(f, listUnits(spark, dir))(affects)
            .filterNot(_._1.startsWith(s"gen-$kind$id-")))(transform)
        // the marker is the statement's commit record AND its durable
        // payload (a crash mid-write leaves only the tmp; the owed
        // replay rewrites nothing — every unit carries the op's
        // stamp — and re-publishes the marker)
        publishWhole(f, markers, s"$kind-$id", DmlRecord.serialize(
          DmlRecord(kind, id, seq, upto, recBoxes, recSets, None)))
        true
      }
    }
  }

  /** Run `body` under the MAINTENANCE lock, after what every unit
    * rewriter owes first: the promotion fence (a sync's own write),
    * [[recoverCompact]] and [[adoptOrphanBatches]]. */
  private def maintSection[T](spark: SparkSession, dir: String,
      what: String)(body: => T): T =
    withMaintLock(spark, dir) {
      fencePromotedMidSync(spark, dir, what)
      recoverCompact(spark, dir)
      adoptOrphanBatches(spark, dir)
      body
    }

  /** A statement is committed when its marker stands or its record was
    * folded into the dml-log (only committed statements fold). */
  private def committedStatement(spark: SparkSession, dir: String,
      marker: String, kind: String, id: Long): Boolean = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    f.exists(new Path(markers, marker)) || dmlLogEntries(spark, dir)
      .exists(r => r.kind == kind && r.id == id)
  }

  /** The next global DML `seq` — records mint it at commit. */
  private def nextDmlSeq(spark: SparkSession, dir: String): Long =
    dmlRecords(spark, dir).map(_.seq).foldLeft(-1L)(math.max) + 1L

  /** The `units` whose metadata `affects` admits, in listing order —
    * probed on [[probePool]]. */
  private def admitted(f: FileSystem, units: Seq[(String, Path)])(
      affects: (FileSystem, Path) => Boolean): Seq[(String, Path)] = {
    val hit = parFilter(units.map(_._2))(d => affects(f, d)).toSet
    units.filter(u => hit(u._2))
  }

  /** The ONE unit rewrite under every DELETE, UPDATE and MERGE: each
    * unit stages `transform` of its rows — per-file partitions, a
    * narrow transform, so key order inside each written file is
    * inherited from the sorted source files — seals its sidecars and
    * swaps in through the same WAL manifest as [[compact]]. Targets
    * are named `gen-<prefix>-<i>-<nonce>`: the statement's id stamp,
    * plus an attempt nonce that keeps a REPLAY's targets distinct from
    * a previous attempt's published gens (without it a replayed
    * rewrite of gen-delX could manifest X as both source and target,
    * and recovery would drop the data). */
  private def rewriteUnits(spark: SparkSession, dir: String,
      f: FileSystem, prefix: String, units: Seq[(String, Path)])(
      transform: DataFrame => DataFrame): Unit = {
    val grid = readGrid(spark, dir) // immutable — read once
    units.zipWithIndex.foreach { case ((name, d), i) =>
      val stamp = s"$prefix-$i-" +
        java.util.UUID.randomUUID().toString.take(6)
      val stage = new Path(s"$dir/gen-$stamp.stage")
      if (f.exists(stage)) f.delete(stage, true)
      transform(readUnits(spark, dir, Seq(d)))
        .write.mode("overwrite").parquet(stage.toString)
      sealUnit(spark, f, stage, grid)
      commitManifest(spark, dir, f, stamp, Seq(name))
    }
  }

  /** Durably record the swap of `sources` for `gen-<stamp>` (the WAL
    * manifest: S lines, the T line, the COMMIT trailer), then replay
    * it — the happy path IS the replay ([[recoverCompact]]). */
  private def commitManifest(spark: SparkSession, dir: String,
      f: FileSystem, stamp: String, sources: Seq[String]): Unit = {
    writeFile(f, manifestPath(spark, dir, stamp),
      (sources.map(s => s"S\t$s") :+ s"T\tgen-$stamp" :+ "COMMIT")
        .mkString("\n"))
    recoverCompact(spark, dir)
  }

  /** Every delete/update id OCCUPIED on `dir` for the record kind
    * `prefix` (`del`, `updk`, ...): committed markers PLUS the
    * id-stamped debris a statement that crashed after publishing
    * rewrites but before its marker leaves behind — published `gen-<prefix><id>-*` units in the data
    * tree, staged `gen-<prefix><id>-*.stage` dirs, and
    * `compact-<prefix><id>-*.manifest` WAL entries. WHY the debris
    * counts: [[rewriteMarkedUnits]]' replay path skips units carrying
    * the operation's OWN id stamp (what makes a non-idempotent UPDATE
    * replay exact), so a LATER, semantically different statement that
    * re-minted a crashed id would silently treat the dead statement's
    * outputs as its own published rewrites and exempt those units from
    * its delete/update — a missed redaction. Minting past the debris
    * makes a fresh statement's id collision-free; the explicit-id API
    * replay of the crashed statement itself keeps the skip. */
  private def occupiedDmlIds(spark: SparkSession, dir: String,
      prefix: String): Set[Long] = {
    // the debris carries the id in its stamp: compact-<prefix><id>-*
    // manifests, gen-<prefix><id>-*.stage stages, gen-<prefix><id>-*
    // units
    val stamped = s"(?:compact-|gen-)\\Q$prefix\\E(\\d+)-.*".r
    def listing(p: String) = {
      val (f, d) = DedupIngest.fs(spark, p)
      if (!f.exists(d)) Nil else f.listStatus(d).toSeq.map(_.getPath.getName)
    }
    val names = MarkerLedger.names(spark, dir)
    (idsOf(names, s"$prefix-") ++
      dmlLogEntries(spark, dir).filter(_.kind == prefix).map(_.id) ++
      (names ++ listing(dir) ++ listing(s"$dir/data")).collect {
        case stamped(i) => i.toLong }).toSet
  }

  /** Hard ceiling on one keyed statement's keys: the keys drive
    * driver-side bloom probing AND ride inside the statement's
    * permanent record (what replicas replay) — a takedown list is
    * governance-sized by nature, and a "delete" of corpus-sized keys
    * is a rewrite in disguise (the [[MaxMergeKeys]] argument, tighter
    * because the record stores every key). */
  private val MaxDeleteKeys = 1 << 16

  /** Ceiling on ONE keyed statement's total driver bloom-probe work,
    * keys × live units (each probe is ~7 hash lookups): above it the
    * unit selection falls back to stats-range pruning alone — the
    * [[BloomProbeMaxKeys]] rule from [[mergeRows]], scaled by unit
    * count, so a max-size (2^16-key) list against a many-unit table
    * with NO bloom hits cannot spin the driver through keys × units
    * misses (`exists` short-circuits only on HITS). Conservative,
    * never wrong: skipping blooms rewrites more units, not fewer.
    * Var — the spec pins the fallback without building 4M probes. */
  private[graft] var KeyedBloomProbeBudget = 1L << 22
  /** Test instrumentation: statements whose bloom probing was skipped
    * for budget (no behavior rides on it). */
  private[graft] var keyedBloomBudgetSkips = 0L

  /** The rewrite predicate of a [[StrShape]], NULL-safe: a NULL
    * string never matches (three-valued logic — the row is kept /
    * untouched, the [[delete]] rule); comparisons are Spark's
    * binary UTF-8 order, matching the driver-side pruning. */
  private def strShapeHit(c: String, shape: StrShape)
      : org.apache.spark.sql.Column = {
    val raw = shape match {
      case StrPrefix(p) => col(c).startsWith(lit(p))
      case StrRange(lo, loInc, hi, hiInc) =>
        (lo.map(l => if (loInc) col(c) >= l else col(c) > l).toSeq ++
          hi.map(h => if (hiInc) col(c) <= h else col(c) < h))
          .reduce(_ && _)
    }
    coalesce(raw, lit(false))
  }

  /** Can this unit's string stats admit a [[StrShape]] hit?
    * Conservative: no stats (pre-string-sidecar units, all-null
    * columns) → true. Byte-order comparisons throughout ([[utf8Cmp]],
    * [[utf8PrefixLeq]]) — the same order the predicate evaluates in. */
  private def strShapeMayHit(f: FileSystem, d: Path, c: String,
      shape: StrShape): Boolean =
    unitStats(f, d, c, str = true) match {
      case Some((mn: String, mx: String)) => shape match {
        case StrPrefix(p) =>
          utf8Cmp(mx, p) >= 0 && utf8PrefixLeq(mn, p)
        case StrRange(lo, _, hi, _) =>
          // inclusivity ignored — conservative by a boundary point
          lo.forall(l => utf8Cmp(mx, l) >= 0) &&
            hi.forall(h => utf8Cmp(mn, h) <= 0)
      }
      case _ => true
    }

  /** What one [[replicate]] sync did, for operations logging and the
    * battery's premises. */
  final case class ReplicateStats(batchesPulled: Int, dmlReplayed: Int,
      dmlSkippedAsBootstrap: Int, mergesReplayed: Int = 0)

  /** `markers/replica-of` marks a dir [[replicate]] writes into;
    * `markers/promoted` (content: the watermark at promotion) is the
    * PROMOTION fence. Between them they ENFORCE what was previously
    * only documented: an un-promoted replica refuses local writes
    * TYPED (a locally-minted id would shadow the source batch with
    * that id and the next pull would silently skip it), and a promoted
    * replica refuses further pulls (a pull would ingest a source batch
    * under an id the promoted table may have locally reused). */
  private val ReplicaOfMarker = "replica-of"
  private val PromotedMarker = "promoted"

  /** [[replicate]] runs with this > 0 on its thread: the sync IS the
    * replica's one legitimate writer, so the write guards stand down
    * for its own ingests/replays (same-thread only — replicate drives
    * its mutations from the driver thread). */
  private val replicaSyncDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  private def isUnpromotedReplica(
      f: FileSystem, markers: Path): Boolean =
    f.exists(new Path(markers, ReplicaOfMarker)) &&
      !f.exists(new Path(markers, PromotedMarker))

  private def isPromoted(f: FileSystem, markers: Path): Boolean =
    f.exists(new Path(markers, PromotedMarker))

  /** Refuse a LOCAL write on an un-promoted replica, typed. Called by
    * every mutator entry ([[ingestBatch]], [[mergeRows]], the
    * [[rewriteMarkedUnits]] core); [[replicate]]'s own writes pass via
    * [[replicaSyncDepth]]. */
  private def refuseReplicaWrite(spark: SparkSession, dir: String,
      what: String): Unit = {
    if (replicaSyncDepth.get() > 0) return
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    require(!isUnpromotedReplica(f, markers),
      s"LayoutIngest.$what: $dir is a REPLICA (markers/replica-of) — " +
        "its batch ledger mirrors its source, so a locally-minted id " +
        "would shadow the source batch with that id and the next sync " +
        "would silently skip it. Read replicas are read-only; to take " +
        "writes, promoteReplica(dir) first (this permanently fences " +
        "further replicate() pulls).")
  }

  /** PROMOTE a replica to a free-standing writable table — the
    * fail-over/cut-over verb: durably fence the sync cursor
    * (`markers/promoted`, atomic create under the tail lock so a
    * racing sync's pull section observes it), after which local
    * writes mint normally ABOVE the replica's committed watermark
    * (the standard [[nextUnusedIdLocked]] scan — pulls were
    * prefix-only, so everything below is occupied by mirrored source
    * batches) and every further [[replicate]] pull into this dir
    * refuses typed (a pull after local writes could collide with a
    * locally-minted id — the shadow hazard in reverse). Idempotent:
    * promoting twice returns the recorded watermark. Refuses on a dir
    * that was never a replica (nothing to promote — and stamping the
    * fence would be a lie in the ledger). Returns the watermark the
    * promotion fenced at.
    *
    * PROMOTION IS ONE-WAY — the fail-back story is REBUILD, not
    * re-seed: once a promoted table has minted local ids inside what
    * used to be the mirrored prefix's future, no cursor can make the
    * source's and this table's ledgers line up again, so the
    * sanctioned re-subscription is `replicate(src, freshDir)` (a
    * fresh bootstrap pulls current bytes and stamps the statement
    * history without replaying anything — the cheap path by design)
    * and retiring the promoted dir once its unique local writes have
    * been merged back into the source (an ordinary `mergeRows` /
    * append of the post-promotion tail, read via
    * `readSince(promotedAt)`).
    *
    * LOCKING: maintenance THEN tail (the [[mergeRows]] order). The
    * tail lock makes a racing sync's per-batch pull observe the fence
    * exactly; the maintenance lock does the same for the sync's
    * STATEMENT-REPLAY phase ([[rewriteMarkedUnits]] and replayed
    * merges re-check the fence under it) — without it a promotion
    * landing between two replayed statements would let source DML
    * keep applying to a table that just went locally writable. */
  def promoteReplica(spark: SparkSession, dir: String): Long =
    LedgerLock.withLockWait(spark, s"$dir/maint", 5000L) {
    LedgerLock.withLockWait(spark, dir, 5000L) {
      val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
      require(f.exists(new Path(markers, ReplicaOfMarker)),
        s"promoteReplica: $dir is not a replica (no markers/" +
          s"$ReplicaOfMarker) — only replicate() targets promote")
      val p = new Path(markers, PromotedMarker)
      if (f.exists(p))
        readMarkerLines(f, p).headOption
          .flatMap(_.trim.toLongOption).getOrElse(-1L)
      else {
        val w = contiguousCommittedBatch(spark, dir)
        publishWhole(f, markers, PromotedMarker, w.toString)
        w
      }
    }
    }

  /** The PROMOTION fence for a sync's own writes: a statement replay
    * or merge replay racing [[promoteReplica]] re-checks the fence at
    * its write's claim point ([[rewriteMarkedUnits]]/[[mergeRows]]
    * call this inside the maintenance section; the pull path checks
    * under the tail lock) — exact, because the promotion holds BOTH
    * locks. Outside a sync (depth 0) this is a no-op: promoted tables
    * legitimately take local writes. */
  private def fencePromotedMidSync(spark: SparkSession, dir: String,
      what: String): Unit = {
    if (replicaSyncDepth.get() <= 0) return
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    require(!isPromoted(f, markers),
      s"replicate: $dir was promoted mid-sync — $what replay " +
        "aborted (promoted tables never sync again)")
  }

  /** Incremental REPLICA sync — the answer to "RTBF that doesn't
    * reach replicas isn't RTBF": pull the source's new committed batch
    * prefix, then REPLAY the source's recorded DML statements
    * ([[DmlRecord]] — every [[delete]]/[[update]] commit
    * marker carries its target, assignment SQL, global order `seq`, and
    * batch-watermark scope `upto`), so a redaction or deletion on the
    * source converges on every replica that syncs, INCLUDING rows the
    * replica consumed before the statement ran. Call on a cadence (or
    * after any compliance statement) — each call is one incremental,
    * idempotent step.
    *
    * THE CONTRACT, piece by piece:
    *  - The replica ingests each source batch under the SOURCE's
    *    ledger id ([[ingestBatch]] is idempotent per id), so replica
    *    [[BatchCol]] provenance mirrors the source and the replica's
    *    own contiguous watermark IS its applied-prefix cursor — no
    *    second offset store. Pulls take only the contiguous prefix
    *    (the same exactly-once rule as the CDC stream source).
    *  - Replayed statements are scoped `AND __batch <= upto`: rows of
    *    batches the source ingested AFTER the statement were never
    *    touched by it and must not be touched on the replica; rows of
    *    batches <= upto pulled LATER arrive post-statement from the
    *    source (the statement completed before its marker is
    *    visible), so a replay over them must be a no-op — which is
    *    exactly why assignments whose value reads an ASSIGNED column
    *    (`value = value + 1`) are REFUSED here, typed: under
    *    snapshot/replay interleaving they cannot be made exact.
    *    Assignments reading only unassigned columns (null-out,
    *    constant, mask-from-siblings — the redaction shapes) are
    *    idempotent under re-application, so every interleaving
    *    converges to the source's bytes.
    *  - Each replay runs through [[rewriteMarkedUnits]] behind an
    *    `sdml-<srcSeq>` marker: exactly-once per source statement,
    *    crash-replay-exact (own-output skip), stats-pruned to the
    *    affected units, and recorded — a replica can itself be
    *    replicated (chained replays stay scoped by the embedded
    *    provenance bounds).
    *  - A ledger id that was a MERGE replays as the merge itself —
    *    [[mergeRows]] on the replica under the SOURCE id, from the
    *    recorded key + updates snapshot (`mrg-<id>` record +
    *    `markers/mrg-<id>.updates`, written at the source commit):
    *    the append alone would leave the replica's matched old
    *    versions alive forever. Replayed at its exact ledger
    *    position; merges vs box statements order by the shared
    *    global `seq` (all serialized by the source's maintenance
    *    lock), and a statement's batch scope excludes every batch a
    *    later merge appended — the pair always either runs in source
    *    order here or provably commutes. An IN-FLIGHT or owed-replay
    *    merge (intent/record without its commit marker) HOLDS the
    *    pull at the previous id and defers statement replay to the
    *    next sync — the replay arguments need every committed merge
    *    below the cursor applied first.
    *  - A FRESH replica (no batches yet) pulls post-statement bytes
    *    for everything — committed merges pull as plain batches (the
    *    removal already happened at the source) and source statements
    *    recorded before the bootstrap are stamped applied WITHOUT
    *    rewriting anything (an empty `__batch <= -1` scope publishes
    *    just the marker + record) — a 100 TB bootstrap does not
    *    re-run years of retention deletes or corrections.
    *  - REFUSED, typed: payload-less DML markers and merges from
    *    before the record format, and a merge claimed over a
    *    NON-contiguous ledger (its removal listing cannot be aligned
    *    with a batch-prefix replica) — rebuild the replica.
    *
    * NOT a lock-step mirror: between syncs the replica lags by
    * whatever the cadence allows (the standard async-replica
    * contract); after a sync that returns without holding, every
    * source batch <= the source watermark observed at entry and every
    * source statement recorded before it are applied. The replica
    * must not take LOCAL writes: its batch ledger mirrors the
    * source's, so a locally-minted id would shadow the source batch
    * with that id and the pull would silently skip it (read replicas
    * are read-only — the contract every replication system shares). */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      filesPerBatch: Int = 4, lockWaitMs: Long = 30000L)
      : ReplicateStats = {
    val (df1, dmarkers) = DedupIngest.fs(spark, s"$dstDir/markers")
    require(!isPromoted(df1, dmarkers),
      s"replicate: $dstDir was PROMOTED (markers/$PromotedMarker) — " +
        "it takes local writes now, and a pull could collide with a " +
        "locally-minted ledger id; promoted tables never sync again. " +
        "To re-subscribe after a fail-back, REBUILD: replicate into a " +
        "FRESH dir (a bootstrap pulls the source's current bytes and " +
        "stamps its statement history — no snapshots or replays " +
        "needed) and retire this one; there is no in-place re-seed, " +
        "because locally-minted ids cannot be un-minted from the " +
        "mirrored ledger prefix.")
    replicaSyncDepth.set(replicaSyncDepth.get() + 1)
    try replicateBody(spark, srcDir, dstDir, filesPerBatch, lockWaitMs)
    finally replicaSyncDepth.set(replicaSyncDepth.get() - 1)
  }

  /** Package-private for the promotion-fence spec, which drives the
    * body directly to simulate a promotion landing AFTER
    * [[replicate]]'s entry check (the race window the in-loop fences
    * close). */
  private[graft] def replicateBody(spark: SparkSession, srcDir: String,
      dstDir: String, filesPerBatch: Int, lockWaitMs: Long)
      : ReplicateStats = {
    val (sf, _) = DedupIngest.fs(spark, s"$srcDir/markers")
    val srcNames = MarkerLedger.names(spark, srcDir)
    val (df0, dgrid) = DedupIngest.fs(spark, s"$dstDir/grid")
    if (!df0.exists(dgrid))
      bootstrap(spark, dstDir, readGrid(spark, srcDir))
    // stamp the dir a replica (idempotent; also adopts pre-marker
    // replicas on their next sync): from here on, LOCAL writes refuse
    // typed until promoteReplica — the read-only contract, enforced
    val (dmf, dmarkers0) = DedupIngest.fs(spark, s"$dstDir/markers")
    val replicaOf = new Path(dmarkers0, ReplicaOfMarker)
    if (!dmf.exists(replicaOf)) writeFile(dmf, replicaOf, srcDir)
    // source statements recorded BEFORE the pull: their effects are in
    // every byte the pull serves
    val srcRecords = dmlRecords(spark, srcDir)
    srcRecords.filterNot(_.kind == "mrg").find(_.seq < 0).foreach { r =>
      throw new IllegalArgumentException(
        s"replicate: source DML marker ${r.kind}-${r.id} predates " +
          "the statement-record format (no payload) — it cannot be " +
          "replayed on a replica; rebuild the replica from a full read")
    }
    val mergeRec = srcRecords.filter(_.kind == "mrg")
      .map(r => r.id -> r).toMap
    // committed = live commit marker OR a folded mrg record (only
    // committed merges fold); a LIVE record without its marker is the
    // in-flight crash window — the stall case, never committed
    val srcNameSet = srcNames.toSet
    val committedMerges = (idsOf(srcNames, "merge-") ++
      srcRecords.filter(r => r.kind == "mrg" &&
        !srcNameSet(s"mrg-${r.id}")).map(_.id)).toSet
    committedMerges.find(id => !mergeRec.contains(id) ||
        mergeRec(id).seq < 0).foreach { id =>
      throw new IllegalArgumentException(
        s"replicate: source merge-$id predates the merge-record " +
          "format (no mrg record / updates snapshot) — its in-place " +
          "row replacement cannot be replayed; rebuild the replica " +
          "from a full read")
    }
    val mergeIntents = idsOf(srcNames, "merge-", ".intent").toSet
    val srcOps = srcRecords.filterNot(_.kind == "mrg").sortBy(_.seq)
    val dstW = contiguousCommittedBatch(spark, dstDir)
    val dstFresh = dstW < 0
    val srcW = contiguousCommittedBatch(spark, srcDir)
    var pulled = 0
    var mergesReplayed = 0
    // ONE provenance-pruned scan per batch, nothing materialized:
    // [[BatchCol]] is in every unit's statistics, so an incremental
    // sync opens only the source's tail units and a bootstrap never
    // checkpoints table-sized state to executor storage (the 100 TB
    // constraint; the cost ceiling is re-reading a folded generation
    // once per batch it spans — bounded by the fold width, and only
    // during bootstrap). Each slice read is individually exact (the
    // publish-point rule); a source statement COMMITTING between two
    // slice jobs can leave early slices pre-statement and late ones
    // post-statement, and the replay step below is what makes every
    // such interleaving converge — the same argument that already
    // covers statements committing between whole syncs.
    //
    // A ledger id that was a MERGE replays as the merge itself
    // (mergeRows on the replica from the recorded key + updates
    // snapshot, under the SOURCE id) — the append alone would leave
    // the replica's matched old versions alive forever. Exact at this
    // position because the record's `upto` (the claim-instant
    // watermark) must equal id-1: every batch the source merge's
    // removal pass saw is already on the replica, and batches the
    // source ingested after are not yet (a merge claimed over a GAP is
    // refused — its removal listing and the replica's prefix cannot be
    // aligned). A batch id carrying a merge intent or record WITHOUT
    // its commit marker is an IN-FLIGHT (or owed-replay) merge: the
    // pull holds at id-1 until the source completes it — the same
    // replay-the-owed-op discipline the source itself runs under.
    var b = dstW + 1
    var stalled = false
    while (b <= srcW && !stalled) {
      if (committedMerges(b) && !dstFresh) {
        val r = mergeRec(b)
        require(r.upto == b - 1,
          s"replicate: source merge-$b was claimed over a " +
            s"non-contiguous ledger (watermark was ${r.upto}) — its " +
            "removal pass cannot be aligned with a batch-prefix " +
            "replica; rebuild the replica from a full read")
        val snapPath = new Path(s"$srcDir/markers/mrg-$b.updates")
        require(sf.exists(snapPath),
          s"replicate: merge-$b's updates snapshot was dropped by " +
            "retention (dropMergeSnapshots) — this replica's cursor " +
            "predates the retention window; rebuild it (a fresh " +
            "bootstrap needs no snapshots)")
        val updates = spark.read.parquet(snapPath.toString)
        require(r.sets.nonEmpty,
          s"replicate: merge-$b's record carries no merge key — " +
            "corrupted record; rebuild the replica from a full read")
        // a NOT-MATCHED-BY-SOURCE delete rides in the record: replay
        // it with the merge — the snapshot carries every kept key, so
        // the replica decides membership exactly as the source did
        val unmatchedDel = r.sets.collectFirst {
          case (UnmatchedDelTag, v) =>
            val sql = urlDec(v)
            UnmatchedDelete(
              if (sql.isEmpty) None
              else Some(org.apache.spark.sql.functions.expr(sql)))
        }
        if (mergeRows(spark, dstDir, r.sets.head._1, updates, b,
            filesPerBatch, dropUnmatched = unmatchedDel))
          mergesReplayed += 1
      } else if (!committedMerges(b) &&
          (mergeIntents(b) || mergeRec.contains(b))) {
        stalled = true
      } else {
        val slice = readBatchRange(spark, srcDir, b, b)
          .drop(KeyCol, BatchCol)
        LedgerLock.withLockWait(spark, dstDir, lockWaitMs) {
          // a promotion racing this sync fences mid-pull: the fence is
          // created under this same lock, so the check is exact
          require(!isPromoted(dmf, dmarkers0),
            s"replicate: $dstDir was promoted mid-sync — pull aborted")
          if (ingestBatch(slice, b, dstDir, filesPerBatch))
            pulled += 1
          compactMarkersLocked(spark, dstDir)
        }
      }
      if (!stalled) b += 1
    }
    // A STALLED pull skips the statement replay entirely: the replay
    // arguments below lean on "every committed merge <= the position
    // reached is applied before any statement replays" — replaying a
    // statement past an unapplied merge could order it before a merge
    // it followed on the source. The held-back work lands on the next
    // sync, after the source completes its owed merge.
    if (stalled) {
      logWarning(s"LayoutIngest.replicate: pull held at batch $b — " +
        s"the source has an in-flight (or owed-replay) merge there; " +
        "statement replay deferred to the next sync")
      return ReplicateStats(pulled, 0, 0, mergesReplayed)
    }
    // replay (or bootstrap-stamp) the source statements, in the
    // recorded global order
    val appliedSeqs = dmlRecords(spark, dstDir)
      .filter(_.kind == "sdml").map(_.id).toSet
    var replayed = 0
    var stamped = 0
    srcOps.filterNot(r => appliedSeqs(r.seq)).foreach { r =>
      // promotion fence, re-checked per record (and exactly, under
      // the maintenance lock, inside each rewrite): a promoteReplica
      // landing mid-replay must stop source statements from applying
      // to the now-locally-writable table
      require(!isPromoted(dmf, dmarkers0),
        s"replicate: $dstDir was promoted mid-sync — statement " +
          "replay aborted (promoted tables never sync again)")
      // scoped `__batch <= upto` (rows of later batches were never
      // touched by the statement); a chained record also carries the
      // scope it ITSELF applied under — intersect, so a replica of a
      // replica never widens the original statement. A fresh replica
      // stamps with an empty scope: nothing rewrites, the marker and
      // record publish
      val (target, assigns, recorded) = DmlTarget.decode(r)
      val scope = if (dstFresh) -1L else math.min(r.upto, recorded)
      val sets = replayAssigns(spark, dstDir, r, target, assigns, dstFresh)
      rewriteMarkedUnits(spark, dstDir, "sdml", r.seq, target, scope,
        sets, assigns): Unit
      if (dstFresh) stamped += 1 else replayed += 1
    }
    ReplicateStats(pulled, replayed, stamped, mergesReplayed)
  }

  /** The replay-side gates on one source statement's assignments —
    * defense-in-depth twins of [[validateAssignSets]]' record-time
    * gates, for records minted by foreign or older writers: a column
    * the statement touches that this replica has never seen (schema
    * evolution via a still-gapped source batch) must refuse, not
    * silently no-op — the sync retries after the gap commits; a
    * SELF-REFERENTIAL assignment cannot replay exactly under
    * at-least-once replication (a replica may hold pre- or
    * post-statement bytes); an ENVIRONMENT-BOUND value re-evaluates to
    * different bytes here than at the source. A bootstrap stamp
    * (`dstFresh`) evaluates nothing, so it passes every gate. Returns
    * the assignments as columns. */
  private def replayAssigns(spark: SparkSession, dstDir: String,
      r: DmlRecord, target: DmlTarget, assigns: Seq[(String, String)],
      dstFresh: Boolean): Seq[(String, Column)] = {
    val touched = target.selectCol.toSeq ++ assigns.map(_._1)
    if (!dstFresh && touched.nonEmpty) {
      val known = tableSchema(spark, dstDir)
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      touched.foreach { c =>
        require(known.isEmpty || known(c),
          s"replicate: source statement seq ${r.seq} (${r.kind}) " +
            s"touches '$c', a column this replica has not seen yet " +
            "(schema evolution above a source ledger gap) — re-sync " +
            "after the gap commits")
      }
    }
    val assigned = assigns.map(_._1.toLowerCase).toSet
    assigns.map { case (c, sql) =>
      val e = org.apache.spark.sql.graftbridge.ColumnBridge
        .catalystExpr(expr(sql))
      if (!dstFresh) {
        val refs = e.collect {
          case u: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => u.nameParts.last.toLowerCase
        }
        require(refs.toSet.intersect(assigned).isEmpty,
          s"replicate: source update seq ${r.seq} assigns '$c' " +
            s"from '$sql', which reads an assigned column — " +
            "self-referential assignments cannot replay exactly " +
            "under at-least-once replication (a replica may see " +
            "pre- or post-statement bytes); redactions must read " +
            "only columns the statement leaves untouched")
        environmentBound(e).foreach(bad =>
          throw new IllegalArgumentException(
            s"replicate: source update seq ${r.seq} assigns '$c' " +
              s"from '$sql', which reads the evaluation environment " +
              s"($bad) — re-evaluating it at replay time diverges " +
              "replica bytes from source bytes; such statements " +
              "cannot replicate (and current writers refuse them at " +
              "record time)"))
      }
      c -> expr(sql)
    }
  }

  /** RETENTION for the merge replay snapshots: drop the
    * `markers/mrg-<id>.updates` frames for merge ids <= `uptoBatch` —
    * the knob that keeps a merge-heavy table's replay state bounded
    * (every CDC system's retention trade: Kafka ages out segments the
    * same way). The statement RECORDS (`mrg-<id>`) and idempotence
    * markers are NOT touched — history, minting and in-flight
    * detection stay exact. A replica whose cursor still predates a
    * dropped snapshot can no longer sync incrementally
    * ([[replicate]] refuses typed at that merge); rebuild it — a
    * FRESH bootstrap never reads snapshots. Returns how many
    * snapshots dropped. */
  def dropMergeSnapshots(spark: SparkSession, dir: String,
      uptoBatch: Long): Int =
    withMaintLock(spark, dir) {
      val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
      idsOf(MarkerLedger.names(spark, dir), "mrg-", ".updates")
        .filter(_ <= uptoBatch)
        .count(i => f.delete(new Path(markers, s"mrg-$i.updates"), true))
    }

  /** [[mergeRows]] under the NEXT UNUSED ledger id — the body behind
    * SQL `MERGE INTO` on the relation. Mint-then-merge with a bounded
    * retry on [[StaleBatchIdException]] (a concurrent writer claiming
    * the advisory id between the mint and the merge's atomic freshness
    * guard); every retry means another writer COMMITTED, so the loop
    * terminates. Returns the ledger id the merge committed under. */
  private[graft] def mergeRowsNext(spark: SparkSession, dir: String,
      keyCol: String, updates: DataFrame,
      filesPerBatch: Int = 4,
      classifiedAt: Option[String] = None,
      dropUnmatched: Option[UnmatchedDelete] = None): Long =
    withFreshId("mergeRowsNext", dir)(nextUnusedId(spark, dir)) { id =>
      try mergeRows(spark, dir, keyCol, updates, id, filesPerBatch,
        classifiedAt = classifiedAt, dropUnmatched = dropUnmatched)
      catch { case _: StaleBatchIdException => false }
    }

  /** [[mergeRows]] auto-split for CORPUS-SCALE backfills: a merge
    * whose distinct keys exceed `maxKeysPerMerge` lands as N
    * sub-merges over DISJOINT deterministic key buckets
    * (`xxhash64(key) mod N` — disjointness is what makes the split
    * exact: every target row matches at most one sub-merge, so the N
    * statements commute and any serial order yields the same table),
    * each an ordinary [[mergeRowsNext]]: its own ledger id, its own
    * recorded statement + updates snapshot, so REPLICAS converge by
    * replaying the sub-merges at their exact positions with no new
    * machinery. The updates plan pins ONCE (localCheckpoint) — every
    * bucket filter reads the same rows, the usual MERGE
    * materialization argument. Bucket counts are VERIFIED before any
    * commit (hash skew on distinct keys is tiny, but a pathological
    * key set gets more buckets, doubling until every bucket fits —
    * bounded: log2 rounds).
    *
    * NOT one atomic statement: sub-merges commit one by one, and a
    * crash between them leaves a prefix applied (each sub-merge is
    * itself crash-exact). The split is CRASH-RESUMABLE: before any
    * sub-merge commits, the updates pin DURABLY
    * (`markers/chunk-<nonce>.updates` — a localCheckpoint dies with
    * the JVM) and a PLAN file (`markers/chunk-<nonce>.plan`, written
    * whole + renamed after every sub-merge) records the owner, the
    * bucket layout, the planned non-empty buckets and each committed
    * (bucket, ledgerId) pair; [[resumeChunkedMerges]] — run by
    * [[vacuum]] — finishes the remaining buckets of a provably-dead
    * owner's plan, so the committed prefix keeps its ids and only the
    * owed suffix merges (a blind caller retry would re-merge
    * everything under all-fresh ids). A crash BETWEEN a sub-merge's
    * commit and its plan rewrite re-merges that ONE bucket — value-
    * idempotent (same keys replace to the same bytes), one extra
    * ledger id, the bounded version of the old full-retry cost.
    * Callers needing single-statement atomicity stay under
    * [[MaxMergeKeys]] (or use `dropUnmatched` for full syncs).
    *
    * Returns the committed ledger ids in commit order. 100 TB: the
    * split adds ONE hash-filter pass per bucket over the pinned
    * updates plus one durable write of the updates (the resume
    * input); per-bucket emptiness comes from the SIZING pass's counts
    * (no extra job per bucket); everything else is N ordinary bounded
    * merges — driver key collections and record sizes stay under the
    * per-merge caps by construction. */
  def mergeRowsChunkedNext(spark: SparkSession, dir: String,
      keyCol: String, updates: DataFrame, filesPerBatch: Int = 4,
      maxKeysPerMerge: Int = MaxMergeKeys.toInt): Seq[Long] = {
    require(maxKeysPerMerge > 0 && maxKeysPerMerge <= MaxMergeKeys,
      s"mergeRowsChunkedNext: maxKeysPerMerge must be in " +
        s"[1, $MaxMergeKeys]")
    val snap = updates.localCheckpoint(true)
    val nKeys = snap.agg(countDistinct(col(keyCol))).head().getLong(0)
    if (nKeys <= maxKeysPerMerge)
      return Seq(mergeRowsNext(spark, dir, keyCol, snap, filesPerBatch))
    // slack so hash skew rarely needs a second round; verify exactly
    var buckets = math.max(2,
      math.ceil(nKeys / (maxKeysPerMerge * 0.8)).toInt)
    var rounds = 0
    while (true) {
      rounds += 1
      require(rounds <= 20,
        "mergeRowsChunkedNext: bucket sizing failed to converge — " +
          "pathological key distribution")
      val layout = ChunkPlan(java.util.UUID.randomUUID().toString.take(8),
        keyCol, buckets, filesPerBatch, Nil, Nil)
      // ONE sizing job returns every bucket's distinct-key count:
      // both the cap check and per-bucket emptiness (an empty bucket
      // merges nothing and must not burn an id) come from it — no
      // per-bucket isEmpty jobs
      val counts = snap.groupBy(layout.bucket.as("__b"))
        .agg(countDistinct(col(keyCol)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (counts.values.forall(_ <= maxKeysPerMerge)) {
        val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
        f.mkdirs(markers)
        val plan = layout.copy(
          planned = (0 until buckets).map(_.toLong).filter(counts.contains))
        snap.write.mode("overwrite")
          .parquet(s"$dir/markers/chunk-${plan.nonce}.updates")
        writeChunkPlan(f, markers, plan, 0)
        return runChunkPlan(spark, dir, plan, 1, snap)
      }
      buckets *= 2
    }
    Nil // unreachable
  }

  /** One [[mergeRowsChunkedNext]] plan (`markers/chunk-<nonce>.plan-<seq>`,
    * line format `graft-chunk v1`): the bucket layout, the planned
    * non-empty buckets, and each committed (bucket, ledgerId) pair. The
    * owner (`O` line) is always the writing JVM. */
  private final case class ChunkPlan(nonce: String, keyCol: String,
      buckets: Int, filesPerBatch: Int, planned: Seq[Long],
      committed: Seq[(Long, Long)]) {
    def bucket: Column = pmod(xxhash64(col(keyCol)), lit(buckets.toLong))
    def encode: String = (Seq(s"graft-chunk v1 $nonce",
      "O\t" + java.lang.management.ManagementFactory.getRuntimeMXBean.getName,
      s"K\t${urlEnc(keyCol)}", s"N\t$buckets", s"F\t$filesPerBatch") ++
      planned.map(c => s"P\t$c") ++
      committed.map { case (c, id) => s"B\t$c\t$id" }).mkString("\n")
  }

  private object ChunkPlan {
    /** (owner, plan) from one plan version's lines. */
    def decode(nonce: String, lines: Seq[String]): (String, ChunkPlan) = {
      def field(tag: String) = lines.collect {
        case l if l.startsWith(s"$tag\t") => l.drop(tag.length + 1) }
      (field("O").headOption.getOrElse(""),
        ChunkPlan(nonce, urlDec(field("K").head), field("N").head.toInt,
          field("F").head.toInt, field("P").map(_.toLong),
          field("B").map { b =>
            val t = b.split("\t")
            (t(0).toLong, t(1).toLong)
          }))
    }
  }

  /** Publish plan version `seq` (written whole + renamed to a NEW
    * name — there is never a moment with no readable plan: version
    * `seq-1` survives until `seq` is live), then drop the superseded
    * versions. A torn superseded-delete leaves extra versions;
    * readers take the highest, and a missing B line only re-merges a
    * value-idempotent bucket. */
  private def writeChunkPlan(f: FileSystem, markers: Path, plan: ChunkPlan,
      seq: Int): Unit = {
    publishWhole(f, markers, s"chunk-${plan.nonce}.plan-$seq", plan.encode)
    chunkPlanVersions(f, markers, plan.nonce).filter(_._1 < seq)
      .foreach(v => f.delete(v._2, false): Unit)
  }

  /** The ONE owed-bucket loop, shared by a fresh chunked merge and a
    * resume: merge each planned-but-uncommitted bucket of `snap` under
    * its own ledger id, publishing plan version `seq`, `seq+1`, ...
    * after each commit, then retire the plan and its snapshot. Returns
    * the ids committed here, in commit order. */
  private def runChunkPlan(spark: SparkSession, dir: String,
      plan: ChunkPlan, seq: Int, snap: => DataFrame): Seq[Long] = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val owed = plan.planned.filterNot(plan.committed.map(_._1).toSet)
    lazy val rows = snap // read only when a bucket is owed
    var done = plan
    val ids = owed.zipWithIndex.map { case (c, i) =>
      val id = mergeRowsNext(spark, dir, plan.keyCol,
        rows.filter(plan.bucket === c), plan.filesPerBatch)
      done = done.copy(committed = done.committed :+ (c -> id))
      writeChunkPlan(f, markers, done, seq + i)
      id
    }
    chunkPlanVersions(f, markers, plan.nonce)
      .foreach(v => f.delete(v._2, false): Unit)
    f.delete(new Path(markers, s"chunk-${plan.nonce}.updates"), true)
    ids
  }

  private def chunkPlanVersions(f: FileSystem, markers: Path,
      nonce: String): Seq[(Int, Path)] =
    idsOf(f.listStatus(markers).toSeq.map(_.getPath.getName),
      s"chunk-$nonce.plan-")
      .map(v => (v.toInt, new Path(markers, s"chunk-$nonce.plan-$v")))

  /** Finish the owed buckets of CRASHED chunked merges (the
    * [[mergeRowsChunkedNext]] plan files): for each plan whose owner
    * is PROVABLY dead (same-host exited pid — the [[LedgerLock]]
    * rule; a live or foreign-host owner is skipped unless `force`,
    * the operator's cross-host break), merge the planned-minus-
    * committed buckets from the durable updates snapshot, then retire
    * the plan. Run by [[vacuum]] OUTSIDE its maintenance hold (each
    * sub-merge takes its own locks — [[LedgerLock]] is not
    * reentrant). Returns sub-merges completed. */
  def resumeChunkedMerges(spark: SparkSession, dir: String,
      force: Boolean = false): Int = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val plan = "chunk-([0-9a-f]{8})\\.plan-\\d+".r
    MarkerLedger.names(spark, dir).collect { case plan(n) => n }.distinct
      .map { nonce =>
        chunkPlanVersions(f, markers, nonce).maxByOption(_._1).map {
          case (top, p) =>
            val (owner, owed) =
              ChunkPlan.decode(nonce, readMarkerLines(f, p))
            if (!force && !LedgerLock.holderProvablyDead(s"$owner:plan")) 0
            else runChunkPlan(spark, dir, owed, top + 1, spark.read
              .parquet(s"$dir/markers/chunk-$nonce.updates")).size
        }.getOrElse(0)
      }.sum
  }

  /** Probing every merge key against every unit bloom is driver work
    * (keys × units × ~7 hashes); above this many distinct keys the
    * unit selection falls back to stats-range pruning alone — still
    * correct (conservative), and a merge that large is mis-sized
    * anyway (see [[mergeRows]]'s contract). */
  private val BloomProbeMaxKeys = 1 << 16

  /** Hard ceiling on one merge batch's distinct keys: the keys are
    * collected to the driver to drive unit pruning, and a "merge"
    * rewriting a corpus-sized key set is a regrid in disguise — split
    * it or rewrite the table. */
  private val MaxMergeKeys = 1 << 22

  /**
   * Row-keyed MERGE (upsert) — the generalization of the reference's
   * K5/K6 row-keyed update sinks (reference VariantStore pattern,
   * `HrdpVariants.java`-style "update these rows by id") to the
   * clustered table: every live row whose `keyCol` appears in
   * `updates` is REPLACED by the update row; keys not present yet are
   * plain inserts. Implemented as delete+append under the existing
   * WAL/marker protocol, so nothing new has to be trusted:
   *
   *  1. the `updates` plan is MATERIALIZED ONCE on entry (an eager
   *     `localCheckpoint`): validation, key pruning, the anti-join and
   *     the append all read the same pinned rows, so a
   *     non-deterministic plan (rand/sample/limit) or a source that
   *     changes mid-merge — including a plan over THIS table's own
   *     files — can never make the deleted key set and the appended
   *     rows disagree (the silent-row-loss hazard every MERGE
   *     implementation materializes against);
   *  2. the updates land FIRST, as ONE ordinary ingest batch via
   *     [[ingestBatch]] under a short tail-lock section — keyed,
   *     range-partitioned, published behind the atomic rename +
   *     `batch-<batchId>` marker, visible to CDC consumers as new rows
   *     of that batch;
   *  3. units that might hold a PRE-MERGE matching key are found from
   *     the sidecars — `__batch` span (units entirely ≥ `batchId` are
   *     exempt by definition, the appended batch first among them),
   *     stats range `[min(keys), max(keys)]`, then the per-unit Bloom
   *     filters when `keyCol` is a [[Grid.bloomCols]] column (the
   *     q166/q170 machinery: a unit whose bloom excludes every key is
   *     never opened, let alone rewritten);
   *  4. each affected unit rewrites through the same staged
   *     WAL-manifest as [[delete]], dropping its matching-key rows
   *     with `__batch < batchId` (a broadcast anti-join on the keys —
   *     the data path never collects). Because the append is already
   *     published, a concurrent reader during the rewrites sees AT
   *     WORST transient duplicates (old + new row both live) — the
   *     benign anomaly for an upsert; the old append-last order had a
   *     transient-ABSENCE window (neither version visible), a state no
   *     serial history produces.
   *
   * SEMANTICS under concurrency: the merge applies exactly at ledger
   * position `batchId` — it replaces matching-key rows ingested by
   * batches `< batchId` and leaves rows of batches `≥ batchId`
   * (including its own append, and any batch a live stream publishes
   * while the rewrites run) untouched, so every interleaving
   * serializes as "the merge happened at its id". `batchId` comes from
   * the SAME sequence as the stream's ingest batches (it IS an ingest
   * batch) and must be fresh — merging under a committed id would
   * delete without appending, and is refused up front, atomically
   * under the tail lock. With a live stream, coordinate the id with
   * the stream's checkpoint (the stream's NEXT id is its state — a
   * merge stealing it would turn that future batch's replay into a
   * silent no-op); the stream itself keeps flowing: it contends with
   * the merge only for the short append section, never for the
   * rewrites — and tail-lock contention is resolved by BOUNDED
   * WAITING, not failure: the merge's inner tail acquire waits out a
   * live holder for up to `tailWaitMs` (and the stream's ingest
   * section waits `lockWaitMs` on [[start]]), so the loser of the
   * race sleeps through the winner's short marker-metadata section
   * instead of failing the job; only a holder that outlives the
   * budget (a stuck writer — a genuine contract violation) still
   * throws [[LedgerLock.ConcurrentWriterException]] naming it.
   *
   * A merge with ZERO keys still BURNS its id: it stamps
   * `batch-<batchId>` (an empty committed batch, the empty-micro-batch
   * convention) plus its merge marker, so a later stream batch can
   * never reuse the id and [[history]] stays unambiguous.
   *
   * `dropUnmatched` is SQL's `WHEN NOT MATCHED BY SOURCE [AND gate]
   * THEN DELETE` — the full-sync dimension statement (target rows
   * whose key is ABSENT from `updates`, optionally gated by a
   * deterministic target-row predicate, are deleted in the SAME
   * rewrite pass, scoped `__batch < batchId` like the replacement
   * drops). ONE atomic statement, one ledger id, crash-exact behind
   * the same markers; serializable for free — membership is decided
   * per row AGAINST THE PINNED SNAPSHOT at apply position `batchId`,
   * no classification read to go stale. Recorded in the `mrg` record
   * (gate SQL URL-encoded), and replayed on replicas from the updates
   * snapshot — the complement is never enumerated, so the statement
   * scales to any target size (it IS a table-wide rewrite: every
   * pre-merge unit may hold an unmatched row, so pruning is off by
   * construction — that is what a full sync means). Standard SQL
   * semantics for NULL keys: a NULL-keyed target row matches nothing,
   * so it is "not matched by source" and deletes (gate permitting) —
   * the ONE spot where the engine's keep-NULL-rows delete rule yields
   * to the SQL MERGE contract. The gate must be environment-free
   * (recorded SQL, re-evaluated at replay — the [[update]]
   * rule); an empty `updates` with `dropUnmatched` is a gated
   * FULL-TABLE delete (nothing appends, everything unmatched).
   * Incompatible with the chunked split ([[mergeRowsChunkedNext]] —
   * each sub-merge would delete its own bucket's complement).
   *
   * Idempotent and crash-exact behind a `merge-<batchId>` marker with
   * an intent twin (the IndexIngest two-state pattern):
   * `merge-<batchId>.intent` is created atomically BEFORE any
   * mutation, the commit marker AFTER everything. Crash matrix:
   * before the intent → nothing happened; after the intent, anywhere →
   * a replay (same batchId, same updates — the caller's replay
   * contract, as for ingestBatch) skips the freshness guard, re-drives
   * [[ingestBatch]] (a no-op once its marker exists), re-runs the
   * rewrites (already-filtered units rewrite to themselves; the
   * appended rows are protected by the `__batch ≥ batchId` exemption
   * wherever a fold may have carried them), re-stamps the commit
   * marker, drops the intent. After the commit marker → false, O(1).
   *
   * Like [[delete]], replaced row versions are destructive across
   * history: [[readAsOf]] views before `batchId` do not resurrect the
   * old values of merged keys (the RTBF rule — a correction exists to
   * supersede the record everywhere).
   *
   * Constraints: `keyCol` must be a LONG or STRING column (the bloom
   * sidecar types — a training corpus keyed on string doc ids merges
   * as naturally as a numeric event log; string keys prune by bloom
   * alone, since min/max range sidecars are long-only); `updates` must
   * carry distinct, non-null keys (last-wins inside one batch is
   * undefined) and at most [[MaxMergeKeys]] of them; pruning is only
   * as good as the sidecars — declare `keyCol` in [[Grid.bloomCols]]
   * or cluster on a correlate, or every pre-merge unit conservatively
   * rewrites (correct, slow). The materialized updates live as
   * executor-local blocks for the merge's duration (correction-sized
   * by contract); an executor loss mid-merge fails the job — replay
   * it. 100 TB: the keys collect once to the driver (correction-sized
   * by contract), the rewrites touch only sidecar-hit units, the
   * append is one ordinary clustered batch.
   */
  /** The NOT-MATCHED-BY-SOURCE side of a [[mergeRows]]: delete target
    * rows whose key is absent from the updates, `gate` (target-row
    * predicate) permitting. */
  final case class UnmatchedDelete(
      gate: Option[org.apache.spark.sql.Column] = None)

  /** `sets` tag carrying [[UnmatchedDelete]] in the `mrg` record:
    * value = URL-encoded gate SQL, empty for ungated. */
  private val UnmatchedDelTag = "__graft_unmatched_del"

  def mergeRows(spark: SparkSession, dir: String, keyCol: String,
      updates: DataFrame, batchId: Long,
      filesPerBatch: Int = 4, tailWaitMs: Long = 5000L,
      classifiedAt: Option[String] = None,
      dropUnmatched: Option[UnmatchedDelete] = None): Boolean = {
    refuseReplicaWrite(spark, dir, "mergeRows")
    // the gate is recorded as SQL and re-evaluated per unit rewrite
    // and at replica replay — the update record-time rule
    val unmatchedRec: Option[String] = dropUnmatched.map { ud =>
      ud.gate.map { g =>
        val ex = org.apache.spark.sql.graftbridge.ColumnBridge
          .catalystExpr(g)
        environmentBound(ex).foreach(bad =>
          throw new IllegalArgumentException(
            "mergeRows: the NOT MATCHED BY SOURCE gate reads the " +
              s"evaluation environment ($bad) — it cannot decide the " +
              "same rows on replay or replica sync"))
        ex.sql
      }.getOrElse("")
    }
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val intent = new Path(markers, s"merge-$batchId.intent")
    if (committedStatement(spark, dir, s"merge-$batchId", "mrg", batchId)) {
      // lock-free early exit (markers are create-only, and a FOLDED
      // mrg record in the dml-log is the same committed-proof — only
      // committed merges fold): retire a stale
      // intent (a crash between the commit marker and the intent
      // delete) so history() and the ledger stay clean
      f.delete(intent, false)
      return false
    }
    require(updates.schema.fieldNames.contains(keyCol),
      s"mergeRows: updates carry no '$keyCol' column")
    val keyIsLong = updates.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType
    require(keyIsLong || updates.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"mergeRows: key column '$keyCol' must be LONG or STRING " +
        s"(the bloom-column types), got " +
        updates.schema(keyCol).dataType.simpleString)
    // materialize ONCE (doc item 1) — every later use reads the pinned
    // snapshot, never re-executes the caller's plan
    val snap = updates.localCheckpoint(true)
    // one aggregate validates the key contract and bounds the range —
    // read-only, so it runs BEFORE the intent (a refused merge must
    // leave no ledger debris)
    val a = snap.agg(
      count(col(keyCol)), countDistinct(col(keyCol)), count(lit(1)),
      min(col(keyCol)), max(col(keyCol))).head()
    require(a.getLong(0) == a.getLong(2),
      "mergeRows: null merge keys are not supported")
    require(a.getLong(0) == a.getLong(1),
      "mergeRows: duplicate keys inside one merge batch — last-wins " +
        "is undefined; dedup the updates first")
    val nKeys = a.getLong(1)
    require(nKeys <= MaxMergeKeys,
      s"mergeRows: $nKeys distinct keys — a merge this large is a " +
        "rewrite in disguise; use mergeRowsChunkedNext (disjoint " +
        "key-bucket sub-merges) or regrid")
    // MAINTENANCE for the whole merge (fail-fast here, before any
    // mutation — rewriter exclusion), with a SHORT tail section nested
    // inside for the freshness guard + append (the only maint→tail
    // nesting; see the object doc's lock-split section)
    maintSection(spark, dir, s"merge-$batchId") {
      LedgerLock.withLockWait(spark, dir, tailWaitMs) {
        if (!f.exists(intent)) {
          // freshness guard — only on the FIRST attempt (a replay
          // finds the intent; by then the id is legitimately ours);
          // atomic with the append: the tail lock freezes the id
          if (batchId <= batchWatermark(f, markers) ||
              f.exists(new Path(markers, s"batch-$batchId")))
            throw new StaleBatchIdException(
              s"mergeRows: batch id $batchId is already committed in " +
                "this table's ledger — merging under it would delete " +
                "without appending; use the next unused ingest id")
          // a txn-stream's reservation owns its id even before the
          // batch marker lands (the stream's owed in-flight replay)
          if (MarkerLedger.names(spark, dir).exists {
              case TxnMarker(_, i, _) => i == batchId
              case _ => false
            })
            throw new StaleBatchIdException(
              s"mergeRows: batch id $batchId is reserved by a live " +
                "stream transaction — its owed replay would collide; " +
                "use the next unused ingest id")
          // CLASSIFICATION GUARD (first attempt only — a replay's
          // classification already committed with the intent): the
          // caller read the table to classify its source rows
          // (matched/unmatched key membership) and recorded the
          // [[ledgerStamp]] it saw BEFORE that read; if any write
          // committed since — a batch, a delete, another merge — the
          // classification may be stale, and committing this merge
          // would gate rows against a state no serial history
          // produces. Atomic here: this merge holds MAINTENANCE (no
          // DML/merge can commit) and the TAIL lock (no batch can
          // commit), so an equal stamp proves the read is still
          // current at the claim instant.
          classifiedAt.foreach { st =>
            val now = ledgerStamp(spark, dir)
            if (now != st)
              throw new StaleClassificationException(
                s"mergeRows: the table committed writes between the " +
                  s"caller's classification read ($st) and this " +
                  s"merge's claim ($now) — redo the classification " +
                  "and retry the statement")
          }
          // the intent CARRIES the contiguous watermark at the claim
          // instant (guaranteed <= batchId - 1: the guard just proved
          // batch-<batchId> is unminted) — the provenance scope a
          // REPLICA replays this merge under. Written whole + renamed
          // so an existing intent always parses; a crashed attempt's
          // replay must not recompute it (its own appended batch
          // marker would fake a tighter prefix than the merge saw).
          publishWhole(f, markers, intent.getName,
            contiguousCommittedBatch(spark, dir).toString)
        }
        if (nKeys > 0)
          ingestBatch(snap, batchId, dir, filesPerBatch): Unit
        else
          // burn the id even with nothing to append (doc): a later
          // stream batch must never reuse a merged id
          f.create(new Path(markers, s"batch-$batchId"), true).close()
      }
      // durable REPLAY INPUT for replicas ([[replicate]]): the exact
      // updates snapshot, written before any removal rewrite — the
      // commit marker below is the barrier that makes it load-bearing
      // (bounded by MaxMergeKeys; the price of a merge that replicas
      // can replay, the same trade the DML records make)
      snap.write.mode("overwrite").parquet(
        s"$dir/markers/mrg-$batchId.updates")
      if (nKeys > 0 || dropUnmatched.nonEmpty) {
        val units = listUnits(spark, dir)
        // a unit entirely at __batch >= batchId holds no pre-merge
        // rows (the appended batch first among them) — exempt
        // wholesale: the key pruner's scope is batchId - 1. Stats
        // ranges are long-only (the sidecar contract); string keys
        // prune by bloom alone. A NOT-MATCHED-BY-SOURCE delete can hit
        // ANY pre-merge unit (every unit may hold an unmatched key —
        // the complement is un-prunable by construction): key pruning
        // is off, only the batch-span exemption stands
        val affects =
          if (dropUnmatched.nonEmpty) keyPruner(keyCol, None, Nil, batchId - 1)
          else {
            val bloomKeys =
              if (nKeys > 0 && nKeys <= BloomProbeMaxKeys)
                snap.select(col(keyCol)).distinct().collect().toSeq.map(_.get(0))
              else Nil
            keyPruner(keyCol, if (keyIsLong && nKeys > 0)
              Some((a.getLong(3), a.getLong(4))) else None, bloomKeys, batchId - 1)
          }
        val keysDf = broadcast(snap.select(col(keyCol)).distinct()
          .withColumn("__graft_merge_hit", lit(true)))
        // keep: key not merged, OR the row is AT/ABOVE the merge point
        // (its own append wherever a fold carried it, and any batch a
        // live stream published meanwhile); null keys never join →
        // kept, the delete null-safety rule. With dropUnmatched, an
        // UNMATCHED pre-merge row (null-keyed included — SQL MERGE
        // semantics, the doc) survives only if the gate spares it.
        val keepRow = col(BatchCol) >= lit(batchId) || (dropUnmatched match {
          case None => col("__graft_merge_hit").isNull
          case Some(ud) => col("__graft_merge_hit").isNull &&
            !ud.gate.map(g => coalesce(g, lit(false))).getOrElse(lit(true))
        })
        rewriteUnits(spark, dir, f, s"merge$batchId",
          admitted(f, units)(affects)) { unitDf =>
          unitDf.join(keysDf, Seq(keyCol), "left").filter(keepRow)
            .select(unitDf.columns.map(col).toIndexedSeq: _*)
        }
      }
      // the merge's statement RECORD (kind `mrg`), minted in COMMIT
      // order from the same global seq as the DML records (merges and
      // box DML are all serialized by the maintenance lock, so seq is
      // the exact statement order a replica must apply): `upto` comes
      // from the intent (the claim-instant watermark), `sets` carries
      // the merge key by convention. upto = -2 marks a pre-format
      // (empty) intent — recorded but refused at replay.
      // A crash between the record rename and the marker create leaves
      // the record standing — the REPLAY must keep it: its seq is the
      // position the merge's effects actually committed at (statements
      // landing between the crash and the replay minted later seqs,
      // and a re-mint here would tell replicas the wrong order)
      if (!f.exists(new Path(markers, s"mrg-$batchId"))) {
        val uptoRec = readMarkerLines(f, intent).headOption
          .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
          .getOrElse(-2L)
        val recSets = Seq((keyCol, "merge-key")) ++
          unmatchedRec.map(g => (UnmatchedDelTag, urlEnc(g)))
        publishWhole(f, markers, s"mrg-$batchId", DmlRecord.serialize(
          DmlRecord("mrg", batchId, nextDmlSeq(spark, dir), uptoRec, Nil,
            recSets, None)))
      }
      f.create(new Path(markers, s"merge-$batchId"), true).close()
      f.delete(intent, false): Unit
      true
    }
  }

  /** Name of the per-unit stats sidecar (a `_`-prefixed file, so the
    * parquet reader ignores it): one `col\tmin\tmax` line per column
    * (`col\tnone` when the footers carry no stats for it). Written
    * into the STAGED dir before the publish rename, so the sidecar is
    * atomic with the unit itself — a pruning decision then costs one
    * small read per unit instead of opening every parquet footer in
    * it (at 100 TB a box touches thousands of units; footer-opening
    * on the driver was the planning bottleneck). Units without a
    * sidecar (pre-sidecar tables) fall back to the footers. */
  private val StatsFile = "_graft_stats.tsv"

  /** Sidecar pseudo-column carrying the unit's exact row count (a
    * footer-metadata sum) — lets [[unitRows]], [[describe]] and the
    * provenance soundness check answer without a footer walk. */
  private val RowsStat = "__rows"

  /** Seal a freshly-staged unit: the stats sidecar over the grid
    * columns, the key and the provenance (string stats for the bloom
    * columns), and the bloom sidecars — written into the stage, so
    * atomic with the unit's publish. */
  private def sealUnit(spark: SparkSession, f: FileSystem, unit: Path,
      grid: Grid): Unit = {
    writeUnitStats(f, unit, grid.cols :+ KeyCol :+ BatchCol, grid.bloomCols)
    writeUnitBlooms(spark, f, unit, grid.bloomCols)
  }

  /** Write the sidecar for the columns pruning will ask about, from
    * the freshly-written (still hot) footers of `unit`. `strCols` get
    * STRING min/max lines (`c str encMin encMax`, URL-encoded — the
    * [[StrShape]] statements' pruning input; four fields, so readers
    * of the long format never mis-parse them); a strCol whose footer
    * stats are not binary (a long bloom column) or are absent writes
    * `c str-none` — read conservatively. */
  private def writeUnitStats(f: FileSystem, unit: Path, cols: Seq[String],
      strCols: Seq[String]): Unit = {
    val n = footerRowCount(f, unit)
    def line(c: String, str: Boolean) = footerRange(f, unit, c, str) match {
      case Some((mn, mx)) =>
        if (str) s"$c\tstr\t${urlEnc(mn.toString)}\t${urlEnc(mx.toString)}"
        else s"$c\t$mn\t$mx"
      case None => if (str) s"$c\tstr-none" else s"$c\tnone"
    }
    writeFile(f, new Path(unit, StatsFile), (s"$RowsStat\t$n\t$n" +:
      (cols.map(line(_, false)) ++
        strCols.filterNot(cols.contains).map(line(_, true)))).mkString("\n"))
  }

  /** A unit's parquet data files (not `_SUCCESS`, sidecars or hidden). */
  private def dataFiles(f: FileSystem, d: Path): Seq[FileStatus] =
    f.listStatus(d).toSeq.filter(s => s.isFile && isDataFile(s.getPath.getName))

  /** `g` over every row group of the unit's parquet footers — metadata
    * only, no data read. */
  private def footerBlocks[T](f: FileSystem, d: Path)(
      g: org.apache.parquet.hadoop.metadata.BlockMetaData => T): Seq[T] = {
    import scala.jdk.CollectionConverters._
    dataFiles(f, d).flatMap { st =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          st.getPath, f.getConf))
      try rdr.getFooter.getBlocks.asScala.toSeq.map(g) finally rdr.close()
    }
  }

  /** Exact row count from the parquet footers (no data read). */
  private def footerRowCount(f: FileSystem, d: Path): Long =
    footerBlocks(f, d)(_.getRowCount).sum

  /** The footer walk behind every stats read: [min, max] of column `c`
    * over the unit's row groups — LONG statistics, or (`str`) binary
    * statistics decoded as UTF-8 and ordered by [[utf8Cmp]] (parquet
    * orders binary stats by unsigned bytes — exactly that order). None
    * when the unit has no data files or a row group lacks stats; a
    * string walk over a non-binary column, or any footer oddity, also
    * yields None — never a wrong bound. */
  private def footerRange(f: FileSystem, d: Path, c: String,
      str: Boolean): Option[(Any, Any)] = {
    import scala.jdk.CollectionConverters._
    def decode(v: Any): Any =
      if (str) new String(v.asInstanceOf[org.apache.parquet.io.api.Binary]
        .getBytes, java.nio.charset.StandardCharsets.UTF_8)
      else v.asInstanceOf[java.lang.Long].longValue()
    val ord = Ordering.fromLessThan[Any]((x, y) =>
      if (str) utf8Cmp(x.toString, y.toString) < 0
      else x.asInstanceOf[Long] < y.asInstanceOf[Long])
    def walk: Option[(Any, Any)] = {
      val ranges = footerBlocks(f, d)(_.getColumns.asScala
        .find(_.getPath.toDotString == c).map(_.getStatistics)
        .filter(s => s != null && s.hasNonNullValue)
        .map(s => (decode(s.genericGetMin), decode(s.genericGetMax))))
      if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
      else Some((ranges.flatten.map(_._1).min(ord),
        ranges.flatten.map(_._2).max(ord)))
    }
    if (str) scala.util.Try(walk).toOption.flatten else walk
  }

  /** The unit's row count: sidecar-first (the [[RowsStat]] line, via
    * the same LRU the pruner uses), footer walk for units written
    * before the line existed. */
  private def unitRows(f: FileSystem, d: Path): Long =
    dirColumnRange(f, d, RowsStat) match {
      case Some((n, _)) => n
      case None => footerRowCount(f, d)
    }

  private def bloomFile(c: String) = s"_graft_bloom_$c"

  /** Write the per-unit Bloom sidecars for the grid's `bloomCols`
    * (see [[Grid]]) from the freshly-staged unit — one distributed
    * pass per column, filter sized to the unit's actual row count
    * (a footer-metadata count, no data read), fpp 1%. Written into
    * the STAGE like [[writeUnitStats]], so atomic with the unit. */
  private def writeUnitBlooms(spark: SparkSession, f: FileSystem,
      unit: Path, bloomCols: Seq[String]): Unit =
    if (bloomCols.nonEmpty && dataFiles(f, unit).nonEmpty) {
      // (fileless units — a rewrite that emptied everything — carry no
      // blooms; scanPoints reads bloom-less units conservatively)
      val df = spark.read.parquet(unit.toString)
      bloomCols.foreach { c =>
        require(df.schema.fieldNames.contains(c) &&
          Set[org.apache.spark.sql.types.DataType](
            org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.StringType)(df.schema(c).dataType),
          s"bloom column '$c' must be a LONG or STRING column of the " +
            s"table (got ${scala.util.Try(df.schema(c).dataType).toOption})")
      }
      val rows = df.count()
      // a ZERO-ROW unit (a rewrite that emptied it) gets no bloom:
      // Spark's bloomFilter aggregate returns a null buffer on empty
      // input, and a bloom-less unit is already read conservatively
      if (rows > 0) {
        val n = math.max(64L, rows)
        bloomCols.foreach { c =>
          val bloom = df.stat.bloomFilter(c, n, 0.01)
          val out = f.create(new Path(unit, bloomFile(c)), true)
          try bloom.writeTo(out) finally out.close()
        }
      }
    }

  /** Bloom sidecar bytes, LRU-cached by write-once unit path; None
    * when absent or unreadable (probe degrades to reading the unit —
    * same conservative rule as missing stats). */
  private val bloomCache =
    new Lru[(String, String), Option[Array[Byte]]](128)

  private def unitBloom(f: FileSystem, d: Path, c: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val bytes = bloomCache.getOrLoad((d.toString, c)) {
      scala.util.Try {
        val p = new Path(d, bloomFile(c))
        if (!f.exists(p)) None
        else {
          val in = f.open(p)
          try Some(in.readAllBytes()) finally in.close()
        }
      }.toOption.flatten
    }
    bytes.flatMap(b => scala.util.Try(
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b))).toOption)
  }

  /** The unit's bloom for `c` may hold one of `values` (Long or String —
    * callers validate); no bloom sidecar → conservatively true. */
  private def bloomMayHold(f: FileSystem, d: Path, c: String,
      values: Seq[Any]): Boolean = unitBloom(f, d, c) match {
    case Some(b) => values.exists {
      case s: String => b.mightContainString(s)
      case l: Long => b.mightContainLong(l)
      case _ => true
    }
    case None => true
  }

  /** The unit's long stats for `c` meet [lo, hi]; no stats →
    * conservatively true. */
  private def rangeHits(f: FileSystem, d: Path, c: String, lo: Long,
      hi: Long): Boolean = dirColumnRange(f, d, c) match {
    case Some((mn, mx)) => mx >= lo && mn <= hi
    case None => true
  }

  /** The unit holds rows of batches <= `scope` (`Long.MaxValue` =
    * unscoped); no stats → conservatively true. */
  private def inScope(f: FileSystem, d: Path, scope: Long): Boolean =
    scope == Long.MaxValue || (dirColumnRange(f, d, BatchCol) match {
      case Some((mn, _)) => mn <= scope
      case None => true
    })

  /** The ONE key pruner, under keyed DELETE/UPDATE ([[DmlTarget.Keys]])
    * and [[mergeRows]]: a non-empty unit holding rows of batches <=
    * `scope`, whose `c` stats meet `range` (long keys; None = no range
    * test) and whose bloom may hold one of `bloomKeys` (empty = no
    * probe — the callers' probe budgets decide). */
  private def keyPruner(c: String, range: Option[(Long, Long)],
      bloomKeys: Seq[Any], scope: Long): (FileSystem, Path) => Boolean =
    (f, d) => unitRows(f, d) > 0 && inScope(f, d, scope) &&
      range.forall { case (lo, hi) => rangeHits(f, d, c, lo, hi) } &&
      (bloomKeys.isEmpty || bloomMayHold(f, d, c, bloomKeys))

  /** Bounded pool for per-unit METADATA probes (bloom/stats sidecar
    * reads) during planning: the decisions are per-unit independent
    * and each costs one small remote read, so at 100 TB unit counts a
    * SERIAL driver walk is the planning bottleneck the sidecars were
    * built to avoid (the sidecar planning-cost lesson, one level up — reading
    * 10⁵ sidecars one at a time is as bad as opening 10⁵ footers).
    * Daemon threads; sized for metadata-read latency hiding, not CPU.
    * Caches (stats/bloom LRUs) are synchronized; Hadoop FileSystem
    * reads are thread-safe. */
  private lazy val probePool =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      (r: Runnable) => {
        val t = new Thread(r, "graft-layout-probe")
        t.setDaemon(true)
        t
      })

  /** Evaluate `pred` over `dirs` on [[probePool]], preserving order;
    * any probe failure propagates with its ORIGINAL type (the pool's
    * ExecutionException wrapper is stripped — callers that handled a
    * raw IOException from the serial walk keep working), and the
    * predicates themselves already degrade conservatively on
    * missing/corrupt metadata. */
  private def parFilter(dirs: Seq[Path])(pred: Path => Boolean)
      : Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (dirs.size <= 2) dirs.filter(pred)
    else {
      val tasks = dirs.map(d =>
        (() => pred(d)): java.util.concurrent.Callable[Boolean])
      val results = probePool.invokeAll(tasks.asJava).asScala.map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
      dirs.zip(results).collect { case (d, true) => d }
    }
  }

  /** (units a point probe must read, all live units) — the
    * [[selectUnits]] of [[scanPoints]]: a unit is read when its bloom
    * might contain ANY probed value, or when it has no bloom for the
    * column (conservative). No false negatives — a unit holding a
    * probed value is always read. */
  private[graft] def pointProbeDirs(spark: SparkSession, dir: String,
      column: String, values: Seq[Any]): (Seq[Path], Seq[Path]) =
    selectUnits(spark, dir, Nil, Seq(column -> probeValues(values)))

  /** `values`, each checked to be a Long or a String (the bloom types). */
  private def probeValues(values: Seq[Any]): Seq[Any] = {
    values.foreach {
      case _: String | _: Long => ()
      case v => throw new IllegalArgumentException(
        s"bloom probe values must be Long or String, got " +
          s"${v.getClass.getName}")
    }
    values
  }

  /** Point lookup through the Bloom sidecars — the equality twin of
    * [[scanBox]] for columns the layout does NOT cluster on: units
    * whose bloom excludes every probed value are never opened; the
    * `isin` residual keeps the result exact through false positives
    * and bloom-less units. */
  def scanPoints(spark: SparkSession, dir: String,
      column: String, values: Seq[Long]): DataFrame =
    scanPointsAny(spark, dir, column, values)

  /** [[scanPoints]] for STRING bloom columns (the [[Grid]] doc: a
    * bloom column is LONG or STRING — a high-cardinality string id is
    * as probe-worthy as a numeric one, and min/max statistics are just
    * as useless for it). Same contract: no false negatives by the
    * bloom, `isin` residual keeps false positives exact. */
  def scanPointsStr(spark: SparkSession, dir: String,
      column: String, values: Seq[String]): DataFrame =
    scanPointsAny(spark, dir, column, values)

  private def scanPointsAny(spark: SparkSession, dir: String,
      column: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "scanPoints: no values to probe")
    // reject nulls up front: a null can never match the isin residual
    // (three-valued logic), and letting it reach the bloom probe threw
    // an NPE (v.getClass on null) instead of a usable message
    require(values.forall(_ != null),
      "scanPoints: null probe values are not supported (isin never " +
        "matches null; probe for nulls with scanBox on a stats column)")
    scan(spark, dir, points = Seq(column -> probeValues(values)))._1
  }

  /** Published units are WRITE-ONCE (atomic-rename publish, never
    * mutated — deletes and folds mint NEW gen names), so their stats
    * are immutable and cacheable by (unit path, column, string-ness).
    * LRU-bounded; long sessions over many tables stay flat. */
  private val statsCache = new Lru[(String, String, Boolean),
    Option[(Any, Any)]](8192)

  /** Drop the in-process stats cache. The cache is sound because
    * published units are write-once — the ONE way to violate that is
    * deleting a whole table dir and re-bootstrapping at the SAME path
    * (batch-0 of the new lineage collides with the cached batch-0 of
    * the old). Call this after such a drop-and-recreate; tables at
    * fresh paths never need it. */
  def clearStatsCache(): Unit = {
    statsCache.clear()
    bloomCache.clear()
    gridCache.clear()
  }

  /** The ONE stats reader: per-unit [min, max] of a LONG column, or
    * (`str`) of a STRING column in UTF-8 byte order — the statistics a
    * pruning reader consumes, reused to decide which units a statement
    * must touch. Source order: in-memory cache (units are write-once),
    * the sidecar (`c mn mx` / `c none` lines; `c str encMn encMx` /
    * `c str-none` for strings), the parquet footers ([[footerRange]]).
    * None — read conservatively — when the unit holds no data, a
    * footer lacks stats for the column, or the unit predates the
    * string-stats sidecar and its footers carry none. */
  private def unitStats(f: FileSystem, d: Path, c: String,
      str: Boolean): Option[(Any, Any)] =
    statsCache.getOrLoad((d.toString, c, str)) {
      // an unreadable/corrupt sidecar (torn disk, checksum mismatch)
      // degrades to the footer walk — pruning never fails on metadata
      val fromSidecar: Option[Option[(Any, Any)]] = scala.util.Try {
        val sp = new Path(d, StatsFile)
        if (!f.exists(sp)) None
        else readMarkerLines(f, sp).map(_.split("\t")).collectFirst {
          case Array(`c`, "none") if !str => None
          case Array(`c`, mn, mx) if !str => Some((mn.toLong, mx.toLong))
          case Array(`c`, "str-none") if str => None
          case Array(`c`, "str", mn, mx) if str =>
            Some((urlDec(mn), urlDec(mx)))
        }
      }.toOption.flatten
      fromSidecar.getOrElse(footerRange(f, d, c, str))
    }

  /** [[unitStats]] of a LONG column. */
  private def dirColumnRange(f: FileSystem, d: Path,
      c: String): Option[(Long, Long)] =
    unitStats(f, d, c, str = false).map { case (mn, mx) =>
      (mn.asInstanceOf[Long], mx.asInstanceOf[Long]) }

  /** UTF-8 BYTE comparison — the string order Spark's comparisons
    * (UTF8String), DuckDB's default collation AND parquet's
    * binary-column statistics all share. Driver-side pruning MUST use
    * it too: Java's String.compareTo orders by UTF-16 unit, which
    * disagrees for supplementary characters vs U+E000..U+FFFF, and a
    * pruning order that disagrees with the predicate's order can skip
    * a unit holding matching rows. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** `mn` can precede SOME string carrying prefix `p` — the byte-land
    * lower-bound test of the prefix pruner: true iff mn's first
    * |p|-in-bytes bytes are <= p's bytes (if they were greater, mn
    * would exceed every p-prefixed string). Pure byte logic, no
    * next-prefix increment (which is not well-defined on UTF-8). */
  private def utf8PrefixLeq(mn: String, p: String): Boolean = {
    val m = mn.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(m.length, pb.length)
    while (i < n) {
      val c = (m(i) & 0xff) - (pb(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    true // equal up to min length: mn is a prefix of p or p-prefixed
  }

  /** The LIVE prunable units under the publish-point rule (object
    * doc): committed-manifest sources are dropped exactly when their
    * target gen is published. A source name may be a top-level dir or
    * a `gen-X/range-k` leaf; a leaf is dead if either its own name or
    * its whole parent is logically deleted. */
  private def liveDirs(spark: SparkSession, dir: String)
      : Seq[Path] = {
    val (f, data) = DedupIngest.fs(spark, s"$dir/data")
    val (_, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val logicallyDeleted: Set[String] =
      if (!f.exists(markers)) Set.empty
      else f.listStatus(markers).toSeq
        .filter(_.getPath.getName.matches("compact-.*\\.manifest"))
        .flatMap { m =>
          val lines = readMarkerLines(f, m.getPath)
          val published = lines.lastOption.contains("COMMIT") &&
            lines.collectFirst { case l if l.startsWith("T\t") =>
              f.exists(new Path(s"$dir/data/" + l.drop(2)))
            }.getOrElse(false)
          if (published)
            lines.collect { case l if l.startsWith("S\t") => l.drop(2) }
          else Nil
        }.toSet
    if (!f.exists(data)) Nil
    else leafUnits(f, data)
      .filterNot { case (name, _) =>
        logicallyDeleted(name) || logicallyDeleted(name.split("/")(0))
      }
      .map(_._2)
  }

  /** Read the live table — correct in every crash state WITHOUT
    * writing ([[liveDirs]]). */
  def read(spark: SparkSession, dir: String): DataFrame =
    scan(spark, dir)._1.drop(BatchCol)

  /** (units a read must open, all live units): the live units whose
    * stats meet every long range of `box` and whose blooms may hold a
    * value of every `points` column — conservative, a unit without the
    * stats or the bloom is kept. The probes run on [[probePool]], not
    * a serial driver walk. */
  private def selectUnits(spark: SparkSession, dir: String,
      box: Seq[(String, Long, Long)], points: Seq[(String, Seq[Any])])
      : (Seq[Path], Seq[Path]) = {
    val (f, _) = DedupIngest.fs(spark, s"$dir/data")
    val live = liveDirs(spark, dir)
    val hit =
      if (box.isEmpty && points.isEmpty) live
      else parFilter(live) { d =>
        box.forall { case (c, lo, hi) => rangeHits(f, d, c, lo, hi) } &&
          points.forall { case (c, vs) => bloomMayHold(f, d, c, vs) }
      }
    (hit, live)
  }

  /** The ONE scan under every read — [[read]], [[scanBox]],
    * [[scanPoints]], the provenance views ([[readSince]], [[readAsOf]],
    * [[readBatchRange]]) and [[LayoutTableRelation]]:
    *  1. the live units ([[liveDirs]]);
    *  2. [[selectUnits]] on `box`, `points` and the `span` of batch ids;
    *  3. the selected units are read; with none selected, one live unit
    *     gives the frame the table's full schema (its sidecars already
    *     prove the predicate empty there); with no live unit, the
    *     table's empty shape;
    *  4. the residual filter: the span always (it defines the view),
    *     `box` and `points` when `exact` (the relation passes false —
    *     Spark reapplies its pushed filters above the scan).
    * A span over a pre-provenance unit is refused: its rows carry no
    * batch id and would silently vanish from the view. Returns the
    * frame, [[BatchCol]] kept, with (units selected, units live). */
  private def scan(spark: SparkSession, dir: String,
      box: Seq[(String, Long, Long)] = Nil,
      points: Seq[(String, Seq[Any])] = Nil,
      span: Option[(Long, Long)] = None,
      exact: Boolean = true): (DataFrame, Int, Int) = {
    val spanBox = span.map { case (lo, hi) => (BatchCol, lo, hi) }.toSeq
    val (hit, live) = selectUnits(spark, dir, box ++ spanBox, points)
    if (span.nonEmpty) {
      val (f, _) = DedupIngest.fs(spark, s"$dir/data")
      // __batch is a non-null long, so a published unit always has
      // stats for it; zero-row units (a delete that emptied one) have
      // stats for NO column and are trivially prunable
      val bare = live.filter(d => dirColumnRange(f, d, BatchCol).isEmpty &&
        unitRows(f, d) > 0)
      require(bare.isEmpty,
        s"provenance read: unit ${bare.map(_.getName).mkString(", ")} " +
          s"predates the $BatchCol column — its rows have no batch " +
          "attribution and would silently vanish from this view " +
          "(regrid to re-stamp the table, or read() for current state)")
    }
    val base =
      if (hit.nonEmpty) readUnits(spark, dir, hit)
      else if (live.nonEmpty) readUnits(spark, dir, Seq(live.head))
      else emptyShape(spark, dir)
    val within: ((String, Long, Long)) => Column = {
      case (c, lo, hi) => col(c) >= lo && col(c) <= hi
    }
    val residual = (if (exact) box.map(within) ++
        points.map { case (c, vs) => col(c).isInCollection(vs) }
      else Nil) ++ spanBox.map(within)
    (residual.reduceOption(_ && _).fold(base)(base.filter), hit.size,
      live.size)
  }

  /** Empty frame with the table's shape: the stored schema when the
    * table has one, else the grid's key shape (no data published yet),
    * with [[BatchCol]] last. */
  private def emptyShape(spark: SparkSession, dir: String): DataFrame =
    (tableSchema(spark, dir) match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          s.fields.filterNot(_.name == BatchCol)))
      case None =>
        val grid = readGrid(spark, dir)
        spark.range(0).select(
          (grid.cols.map(c => lit(null).cast("long").as(c)) :+
            lit(0L).as(KeyCol)): _*)
    }).withColumn(BatchCol, lit(0L))

  // -- additive schema evolution ----------------------------------------
  //
  // Later batches may carry NEW payload columns (and drop old ones);
  // the grid columns and bloomCols are the only mandatory part of a
  // batch. The TABLE schema is the monotone union of every batch
  // schema, persisted as a versioned sidecar (`schema/schema-<v>.json`,
  // readers take the max — the batch-upto watermark pattern, so a
  // crash leaves either the old or the new version, both valid).
  // Every multi-unit read applies the stored schema, so units written
  // before a column surfaces it as nulls — WITHOUT the per-query
  // footer-walk `mergeSchema` costs at 100 TB unit counts (the sidecar
  // is one small file; Delta/Iceberg keep schema in the log for the
  // same reason). Type changes are refused at publish: evolution here
  // is strictly additive, never rewriting history.

  /** The table's current schema — the stored union when the table has
    * evolved, otherwise None (homogeneous pre-evolution table; plain
    * reads are already correct). */
  def tableSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val (f, sd) = DedupIngest.fs(spark, s"$dir/schema")
    // list-then-open races a concurrent publish retiring old versions.
    // Each retry re-lists and the current max always exists, but a
    // lock-free reader can lose the race MORE than once (two
    // consecutive publishes each retire versions two back), so retry a
    // small bounded number of times rather than exactly once.
    var attempt = 0
    val maxAttempts = 4
    while (true) {
      if (!f.exists(sd)) return None
      val vs = f.listStatus(sd).toSeq.map(_.getPath.getName)
        .filter(_.matches("schema-\\d+\\.json"))
        .map(_.stripPrefix("schema-").stripSuffix(".json").toLong)
      if (vs.isEmpty) return None
      try {
        val json = readMarkerLines(f, new Path(sd, s"schema-${vs.max}.json"))
          .mkString("\n")
        return Some(org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      } catch {
        case e: java.io.FileNotFoundException =>
          if (attempt < maxAttempts - 1)
            attempt += 1 // re-list; the writer published a newer version
          else
            // a raw FNF here would read as "the table is broken";
            // name the real cause (losing the list-then-open race
            // maxAttempts times needs a pathological publish storm)
            throw new IllegalStateException(
              s"tableSchema: lost the schema list-then-open race " +
                s"$maxAttempts times under $sd — a concurrent writer " +
                "is retiring schema versions faster than this reader " +
                "can re-list (publish storm); retry when the table's " +
                "writer cadence settles", e)
      }
    }
    None // unreachable
  }

  /** Union the staged batch's schema into the stored table schema —
    * BEFORE the data rename, so the stored schema is always a
    * superset of every published file (a crash in between leaves a
    * column all-null until the replay republishes the data: additive
    * and harmless). Existing columns keep their position, new ones
    * append; a name reused at a different type fails fast. Caller
    * holds the lock. */
  private def publishSchema(spark: SparkSession, dir: String,
      staged: org.apache.spark.sql.types.StructType): Unit = {
    val cur = tableSchema(spark, dir)
    val base = cur.getOrElse(staged)
    val byName = base.fields.map(f => f.name -> f).toMap
    staged.fields.foreach { fl =>
      byName.get(fl.name).foreach { ex =>
        require(ex.dataType == fl.dataType,
          s"schema evolution: column '${fl.name}' arrives as " +
            s"${fl.dataType.simpleString} but the table holds " +
            s"${ex.dataType.simpleString} — only ADDITIVE evolution " +
            "is supported (new table via regrid for type changes)")
      }
    }
    val merged = org.apache.spark.sql.types.StructType(
      base.fields.map(_.copy(nullable = true)) ++
        staged.fields.filterNot(f => byName.contains(f.name))
          .map(_.copy(nullable = true)))
    if (cur.contains(merged)) return
    val (f, sd) = DedupIngest.fs(spark, s"$dir/schema")
    f.mkdirs(sd)
    val vs = f.listStatus(sd).toSeq.map(_.getPath.getName)
      .filter(_.matches("schema-\\d+\\.json"))
      .map(_.stripPrefix("schema-").stripSuffix(".json").toLong)
    val next = vs.foldLeft(-1L)(math.max) + 1
    val out = f.create(new Path(sd, s"schema-$next.json"), true)
    try out.write(merged.json.getBytes("UTF-8")) finally out.close()
    // retire superseded versions but KEEP the immediately-previous
    // one: a lock-free reader that listed before this publish may
    // still be about to open it (list-then-open), and schemas are
    // monotone supersets, so serving v-1 is stale-but-valid — only
    // versions two generations back can be deleted without a race
    vs.filter(_ < next - 1).foreach(v => f.delete(
      new Path(sd, s"schema-$v.json"), false))
  }

  /** Read units under the stored table schema (nulls for columns a
    * unit predates); plain read for pre-evolution tables. */
  private def readUnits(spark: SparkSession, dir: String,
      units: Seq[Path]): DataFrame =
    tableSchema(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(units.map(_.toString): _*)
      case None => spark.read.parquet(units.map(_.toString): _*)
    }

  /** CDC read: every live row ingested by a batch with id >
    * `afterBatch`, with [[BatchCol]] kept so the consumer can
    * checkpoint `max(__batch)` and call again — the incremental-
    * consumption contract downstream pipelines need ("give me what's
    * new since my last run") without a second event stream. Pruning is
    * the point: [[BatchCol]] is in every unit's statistics sidecar, an
    * L0 unit spans exactly its own batch id and a folded generation
    * spans the ids it swallowed, so old history is skipped at the
    * FILE level — a consumer polling the tail of a 100 TB table opens
    * only the units published since its checkpoint, however many
    * generations the rest has been folded into. Rows REMOVED since the
    * checkpoint are not reported (this is an append-log view, not a
    * diff; [[delete]] is the deliberate exception — right-to-be-
    * forgotten must not re-surface rows anywhere, including here).
    * A downstream TABLE built from this view keeps rows the source
    * later deletes or redacts — use [[replicate]] for a replica that
    * converges through deletions, redactions and merges (it replays
    * the recorded statements, not just the append log). */
  def readSince(spark: SparkSession, dir: String,
      afterBatch: Long): DataFrame = {
    require(afterBatch >= -1L && afterBatch < Long.MaxValue,
      s"readSince: afterBatch out of range: $afterBatch")
    readBatchRange(spark, dir, afterBatch + 1, Long.MaxValue)
  }

  /** Ingest-time travel: the live rows ingested by batches ≤ `batch`
    * — the table as the ingest left it after that batch, EXCEPT that
    * [[delete]] is destructive across history by design: a
    * forgotten row never reappears in any as-of view (time travel
    * that resurrects deleted user data is a compliance hole, not a
    * feature — the reason lakehouse GDPR guides tell operators to cap
    * time travel at the deletion SLA). Compaction does not disturb
    * the view: folds copy [[BatchCol]] untouched, so the filter is
    * exact through any number of generations. */
  def readAsOf(spark: SparkSession, dir: String, batch: Long): DataFrame = {
    require(batch >= 0L, s"readAsOf: batch must be >= 0: $batch")
    readBatchRange(spark, dir, 0L, batch)
  }

  /** The CONTIGUOUS committed batch prefix — "every id in [0, n] is
    * committed", the exactly-once offset [[LayoutTableSource]] serves:
    * an id above a gap (a concurrent or crashed writer's in-flight
    * batch) must hold the offset back, or a consumer would take its
    * rows and then skip the gap batch when it later commits. -1 when
    * nothing is committed. */
  def contiguousCommittedBatch(spark: SparkSession, dir: String): Long =
    committedBatches(MarkerLedger.names(spark, dir))._1

  /** (the contiguous committed prefix n, the ids committed above it)
    * from one marker listing. */
  private def committedBatches(names: Seq[String]): (Long, Seq[Long]) = {
    val ids = idsOf(names, "batch-").toSet
    var n = MarkerLedger.watermark(names)
    while (ids.contains(n + 1)) n += 1
    (n, ids.filter(_ > n).toSeq.sorted)
  }

  /** Canonical fingerprint of everything that can change a key's
    * LIVENESS on `dir`: the committed batch-id SET (contiguous
    * watermark + the ids committed above it — REPRESENTATION-invariant
    * across the marker fold, which only moves ids from the live
    * listing into the watermark) and the max recorded DML `seq`
    * (deletes/updates/merges all mint from it at commit). Two reads of
    * an unchanged stamp bracket a window in which no row was added or
    * removed — what lets the conditional SQL MERGE prove its
    * matched/unmatched classification is still the state its merge
    * commits against ([[mergeRows]]' `classifiedAt`). Driver-side
    * metadata work, statement-cadence cost. */
  private[graft] def ledgerStamp(spark: SparkSession,
      dir: String): String = {
    val (n, above) = committedBatches(MarkerLedger.names(spark, dir))
    val dmlSeq = dmlRecords(spark, dir).map(_.seq).foldLeft(-1L)(math.max)
    s"upto=$n;above=${above.mkString(",")};dml=$dmlSeq"
  }

  /** Rows of batches lo..hi (inclusive), stats-pruned on the
    * provenance column — the body of [[readSince]] and [[readAsOf]] and
    * the micro-batch behind [[LayoutTableSource.getBatch]]: units whose
    * sidecar batch span is disjoint from [lo, hi] are never opened.
    * Tables written before the provenance column carry no per-row
    * batch ids — [[scan]] fails fast rather than guess. */
  private[streaming] def readBatchRange(spark: SparkSession,
      dir: String, lo: Long, hi: Long): DataFrame =
    scan(spark, dir, span = Some((lo, hi)))._1

  /** Highest ledger id ANY artifact claims, plus one: committed batch
    * markers, the `batch-upto` watermark, published-but-unmarked
    * orphan batch dirs (ingesting under one would ADOPT the orphan's
    * data and silently drop the new frame — ingestBatch's
    * target-exists recovery path), merge markers and standing intents
    * (their owed replay appends under that id), and live stream TXN
    * RESERVATIONS (`txn-e<epoch>-i<id>-<qid>` — a default-regime
    * [[start]] writer that crashed between reserving and committing still
    * OWNS its id; see [[streamLedgerId]]). Callers must hold the tail
    * lock for mint-then-use atomicity; [[nextUnusedId]] wraps this for
    * advisory (mint-then-release) uses. */
  private def nextUnusedIdLocked(spark: SparkSession,
      dir: String): Long = {
    val names = MarkerLedger.names(spark, dir)
    val (f, data) = DedupIngest.fs(spark, s"$dir/data")
    val dirIds =
      if (!f.exists(data)) Nil
      else idsOf(f.listStatus(data).toSeq.map(_.getPath.getName), "batch-")
    (idsOf(names, "batch-") ++ idsOf(names, "batch-upto-") ++
      idsOf(names, "merge-", ".intent") ++ idsOf(names, "merge-") ++
      names.collect { case TxnMarker(_, id, _) => id } ++ dirIds)
      .foldLeft(-1L)(math.max) + 1L
  }

  /** ADVISORY next-unused ledger id (taken and released under the tail
    * lock): by the time the caller uses it, another writer may have
    * claimed it — [[mergeRows]]'s freshness guard then throws
    * [[StaleBatchIdException]] and the caller re-mints (the SQL MERGE
    * command's retry loop). For atomic mint-and-use, see
    * [[appendNext]]. */
  private[graft] def nextUnusedId(spark: SparkSession,
      dir: String): Long =
    LedgerLock.withLockWait(spark, dir, 5000L)(
      nextUnusedIdLocked(spark, dir))

  /** Append `df` as ONE clustered ingest batch under the NEXT UNUSED
    * ledger id, taken under the tail lock — the body behind both
    * DataFrameWriter `.mode("append")` and SQL `INSERT INTO` on the
    * relation ([[nextUnusedIdLocked]] documents the id scan). NOT
    * exactly-once across driver retries — a retried call mints a NEW
    * id (every DataFrameWriter sink's contract; use [[start]] or
    * explicit [[ingestBatch]] ids for replay-safe ingest). Returns the
    * id.
    *
    * CONCURRENT STREAMS: safe next to a default (txn-minted) stream
    * writer (both mint from one lock-serialized sequence, and the
    * stream's in-flight reservation is counted). Do NOT batch-append
    * while an EPOCH-KEYED stream ([[start]] `epochIds = true`) is
    * attached: that
    * stream's next id is its checkpoint state, this append would take
    * it, and the stream's future batch would replay as a silent
    * ingest no-op — its rows dropped (the [[mergeRows]] id-coordination
    * hazard, automated). */
  private[graft] def appendNext(spark: SparkSession, dir: String,
      df: DataFrame, filesPerBatch: Int,
      lockWaitMs: Long = 30000L): Long =
    LedgerLock.withLockWait(spark, dir, lockWaitMs) {
      val next = nextUnusedIdLocked(spark, dir)
      ingestBatch(df, next, dir, filesPerBatch): Unit
      next
    }

  /** A stream txn reservation marker: `txn-e<epoch>-i<id>-<qid>` —
    * the name IS the durable (queryId, epoch) → ledgerId binding
    * (name-carries-state, like the batch markers). Extractor yields
    * (epoch, ledgerId, queryId). */
  private object TxnMarker {
    private val Pat = "txn-e(\\d+)-i(\\d+)-(.+)".r
    def unapply(name: String): Option[(Long, Long, String)] =
      name match {
        case Pat(e, i, q) => Some((e.toLong, i.toLong, q))
        case _ => None
      }
    def name(epoch: Long, id: Long, qid: String): String =
      s"txn-e$epoch-i$id-$qid"
  }

  /** Checkpoint location → the stream's DURABLE query id (the
    * `<checkpoint>/metadata` JSON MicroBatchExecution writes at query
    * start — stable across restarts of the same checkpoint, unlike
    * `runId`). Read FRESH per call, never cached per-JVM: a checkpoint
    * dir deleted and recreated at the same path gets a NEW query id,
    * and a cached old id would match the old query's surviving e0
    * reservation — resolving the fresh stream's epoch 0 to an
    * already-committed ledger id and silently dropping its rows. One
    * tiny metadata read per micro-batch (under the tail lock the
    * caller already holds) is noise next to the ingest itself. */
  private def checkpointQueryId(spark: SparkSession,
      checkpoint: String): String = {
    val (f, p) = DedupIngest.fs(spark, s"$checkpoint/metadata")
    val txt = readMarkerLines(f, p).mkString("\n")
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(throw new IllegalStateException(
        s"LayoutIngest: no query id in $checkpoint/metadata — not a " +
          "structured-streaming checkpoint?"))
  }

  /** The txn-minted (default-regime) micro-batch body: resolve this
    * (queryId, epoch) to
    * its ledger id — the reservation marker if one exists (a REPLAY of
    * the one in-flight epoch after a crash: same id, so the re-driven
    * [[ingestBatch]] is exact), else the next unused id, RESERVED
    * atomically (marker created before any data moves, under the
    * caller-held tail lock). The idempotent-sink pattern every
    * shared-ledger lakehouse sink uses (appId + epoch → version):
    * decouples the stream's ids from its epochs, so batch appends,
    * merges and OTHER txn streams can interleave freely on one table.
    * Crash matrix: before the reservation → nothing happened, the
    * replay mints fresh; after it, anywhere → the replay finds the
    * reservation and re-drives ingestBatch under the same id (a no-op
    * once its batch marker exists). The reservation is retired by
    * [[compactMarkersLocked]] once a LATER epoch of the same query
    * reserves (Spark replays only the newest checkpoint-uncommitted
    * epoch, so an older reservation can never be asked for again). */
  private[graft] def streamLedgerId(spark: SparkSession, dir: String,
      qid: String, epoch: Long): Long = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    MarkerLedger.names(spark, dir).collectFirst {
      case TxnMarker(e, i, q) if e == epoch && q == qid => i
    }.getOrElse {
      val id = nextUnusedIdLocked(spark, dir)
      f.create(new Path(markers, TxnMarker.name(epoch, id, qid)), true).close()
      id
    }
  }

  /** Scan body behind the BATCH relation
    * ([[LayoutTableRelation]]) — one unit-selection pass combining
    * every pruning source the sidecars offer: conjunctive long RANGES
    * (the scanBox machinery, fed from pushed-down catalyst filters),
    * Bloom POINT probes on declared bloom columns (pushed-down
    * equality/IN), and the PROVENANCE span for `sinceBatch`/
    * `asOfBatch` reads. Pruning is advisory-only for the pushed
    * filters (Spark reapplies them above the scan — the
    * PrunedFilteredScan contract), so conservative inclusion is
    * always safe; the provenance bound is SEMANTIC (it defines the
    * view, not a user predicate) and is applied here as the residual.
    * Returns (frame, unitsRead, unitsLive) so the relation can expose
    * pruning observability. */
  private[streaming] def relationScan(spark: SparkSession, dir: String,
      box: Seq[(String, Long, Long)],
      points: Seq[(String, Seq[Any])],
      batchLo: Long, batchHi: Long,
      keepBatch: Boolean): (DataFrame, Int, Int) = {
    val span = Some((batchLo, batchHi))
      .filter(_ => batchLo > 0L || batchHi < Long.MaxValue)
    val (df, read, live) = scan(spark, dir, box, points, span, exact = false)
    (if (keepBatch) df else df.drop(BatchCol), read, live)
  }

  /**
   * Box scan with FILE-LEVEL pruning — the read-side twin of
   * [[delete]], and the piece Spark's own reader does not do:
   * parquet scans skip row GROUPS from footer statistics but still
   * list and open every file (the r12 layout probe measured scanFiles = all in
   * every layout). On a clustered table the per-dir statistics are
   * decisive, so dirs disjoint from the box are dropped BEFORE the
   * DataFrame is built — the reader never touches them at all (the
   * data-lake file-pruning pattern, done here from the parquet footers
   * the files already carry, no extra metadata). Dirs without stats
   * are conservatively read; the box predicate is reapplied as the
   * residual filter, so the result is exact regardless of pruning.
   * [[prunedBoxDirs]] exposes the (hit, live) counts for gates and
   * monitoring.
   */
  def scanBox(spark: SparkSession, dir: String,
      box: Seq[(String, Long, Long)]): DataFrame = {
    require(box.nonEmpty, "scanBox: empty box")
    scan(spark, dir, box = box)._1
  }

  /** (dirs whose footer stats intersect the box, all live dirs) — the
    * [[selectUnits]] of [[scanBox]]. */
  private[graft] def prunedBoxDirs(spark: SparkSession, dir: String,
      box: Seq[(String, Long, Long)])
      : (Seq[Path], Seq[Path]) =
    selectUnits(spark, dir, box, Nil)

  private def dirBytes(f: FileSystem, p: Path): Long =
    f.listStatus(p).filter(_.isFile).map(_.getLen).sum

  /** Re-grid the table into a NEW table dir — the answer to domain
    * drift. Grid bounds are fixed at [[bootstrap]] and out-of-range
    * rows CLAMP to the edge cells; when the live domain outgrows the
    * grid, the edge cells fill up and pruning degrades exactly there.
    * The grid is immutable by contract (bootstrap rejects an existing
    * one — every historical writer and oracle keyed under it), so
    * re-gridding is by design a rewrite into a fresh dir: read the
    * live table, drop the old key, re-key and re-cluster under
    * `newGrid` (new bounds, bits, curve, bloom columns all allowed),
    * publish as a range-split generation with fresh sidecars — and
    * an EMPTY batch ledger (the rewrite's own ingest markers are
    * stripped before the install; see below), so any future stream,
    * fresh checkpoint or continuing, ingests normally. Source
    * history collapses to __batch 0/1 ("as of the rewrite"). The
    * destination is assembled in a `.stage` dir and installed with
    * ONE atomic rename — a crash leaves either nothing at `dstDir` or
    * the complete table (a leftover stage is discarded on retry). The
    * SOURCE is left untouched; the caller retires it after swapping
    * pointers (two directories cannot be swapped atomically from a
    * library). 100 TB: one full shuffle on the new key — the same
    * cost every lakehouse re-OPTIMIZE pays, amortized by doing it
    * only on drift. */
  def regrid(spark: SparkSession, srcDir: String, dstDir: String,
      newGrid: Grid, targetFileBytes: Long = 256L << 20): Unit = {
    val (f, dst) = DedupIngest.fs(spark, dstDir)
    require(!f.exists(dst), s"regrid: $dstDir already exists")
    require(targetFileBytes > 0, "regrid: targetFileBytes must be > 0")
    val stage = new Path(dstDir + ".stage")
    if (f.exists(stage)) f.delete(stage, true) // crashed attempt
    bootstrap(spark, stage.toString, newGrid)
    val live = read(spark, srcDir).drop(KeyCol)
    // two half-ingests + a sized fold reuse the tested publish and
    // range-split machinery; the halves only exist to make compact's
    // >= 2-unit precondition true
    val (fh, firstCol) = (live, newGrid.cols.head)
    val half = fh.filter(
      abs(hash(col(firstCol))) % 2 === 0)
    val other = fh.filter(
      abs(hash(col(firstCol))) % 2 =!= 0)
    ingestBatch(half, 0L, stage.toString, filesPerBatch = 1): Unit
    ingestBatch(other, 1L, stage.toString, filesPerBatch = 1): Unit
    compact(spark, stage.toString, smallFileBytes = Long.MaxValue,
      targetFileBytes = targetFileBytes)
    // strip the rewrite's OWN batch ledger before the install: the
    // half-ingests' markers (and the fold's batch-upto watermark)
    // would make a FRESH stream attached to the new table silently
    // drop its first micro-batches (batchId 0/1 <= the watermark).
    // regrid needs no replay protection — the single install rename
    // below is its atomicity — so the new table starts with an empty
    // ledger and ANY stream (fresh or continuing checkpoint) ingests
    // normally. Provenance: source history collapses to __batch 0/1,
    // "as of the rewrite" (documented above).
    val (_, stageMarkers) = DedupIngest.fs(spark, s"$stage/markers")
    if (f.exists(stageMarkers))
      f.listStatus(stageMarkers).toSeq
        .map(_.getPath)
        .filter(p => p.getName.matches("batch-\\d+") ||
          p.getName.matches("batch-upto-\\d+"))
        .foreach(p => f.delete(p, false): Unit)
    if (!f.rename(stage, dst))
      throw new IllegalStateException(
        s"regrid: install rename failed for $dstDir")
  }

  /** CLUSTERING HEALTH: how many live units a cluster-key point query
    * may have to open, from the per-unit key ranges the pruner
    * already has — `(maxDepth, meanDepth, liveUnits)`, where depth at
    * a key k = |units whose [min zkey, max zkey] contains k| and
    * meanDepth is length-weighted over the covered key domain. Depth
    * 1 everywhere = perfectly compacted (disjoint generations); depth
    * ≈ unit count = an unfolded L0 tail (every batch spans the whole
    * domain). The number an operator watches to decide WHEN to
    * [[compact]] — the same clustering metric every lakehouse
    * OPTIMIZE reports. Units without key statistics count as covering
    * the whole domain (conservative, like the pruner). Driver-only
    * sweep, O(units log units). */
  def clusteringDepth(spark: SparkSession, dir: String)
      : (Int, Double, Int) = {
    val (f, _) = DedupIngest.fs(spark, s"$dir/data")
    val dirs = liveDirs(spark, dir)
    if (dirs.isEmpty) return (0, 0.0, 0)
    val ranges = dirs.map(d => dirColumnRange(f, d, KeyCol)
      .getOrElse((Long.MinValue, Long.MaxValue)))
    // sweep line over interval starts/ends; BigInt lengths (the key
    // domain spans the full Long range for stat-less units)
    val events = ranges.flatMap { case (mn, mx) =>
      Seq((BigInt(mn), 1), (BigInt(mx) + 1, -1)) }
      .groupBy(_._1).map { case (p, es) => (p, es.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    var depth = 0
    var maxDepth = 0
    var covered = BigInt(0)
    var weighted = BigInt(0)
    var prev = BigInt(0)
    events.foreach { case (p, delta) =>
      if (depth > 0) {
        val len = p - prev
        covered += len
        weighted += len * depth
      }
      depth += delta
      maxDepth = math.max(maxDepth, depth)
      prev = p
    }
    val mean =
      if (covered == 0) 0.0
      else (BigDecimal(weighted) / BigDecimal(covered)).toDouble
    (maxDepth, mean, dirs.size)
  }

  /** Operational view of the LEDGER (the DESCRIBE HISTORY every table
    * format grows): one row per committed operation — ingest batches
    * (the watermark's contiguous [0, n] plus individual tail markers),
    * box deletes, row-keyed merges — plus any IN-FLIGHT merge intent
    * (committed = false; a standing intent after a crash tells the
    * operator a replay is owed). The watermark-folded ingest prefix is
    * ONE `ingest-upto` row (id = n means "[0, n] all committed"), NOT
    * n+1 rows — a long-lived stream's watermark covers millions of
    * batches, and the fold's whole point is not retaining (or
    * re-materializing) per-batch entries. `at_ms` is the marker file's
    * mtime where one exists (individual tail/delete/merge markers; the
    * watermark row carries the watermark FILE's mtime — the fold
    * time, not any batch's). Driver-only, one markers listing,
    * O(markers on disk). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (f, markers) = DedupIngest.fs(spark, s"$dir/markers")
    val entries: Seq[(String, Long, Boolean, Option[Long])] =
      if (!f.exists(markers)) Nil
      else {
        val st = f.listStatus(markers).toSeq
        val byName = st.map(s => s.getPath.getName -> s).toMap
        val names = byName.keySet
        val w = MarkerLedger.watermark(names.toSeq)
        val folded =
          if (w < 0) Nil
          else Seq(("ingest-upto", w, true,
            byName.get(s"batch-upto-$w").map(_.getModificationTime)))
        val tail = idsOf(names.toSeq, "batch-").filter(_ > w).sorted
          .map(i => ("ingest", i, true,
            Some(byName(s"batch-$i").getModificationTime)))
        // DML ops come from the RECORDS (live markers + the folded
        // dml-log), so the presentation is identical before and after
        // a [[foldDmlMarkers]] — the folded record carries the marker's
        // commit mtime
        val dml = dmlRecords(spark, dir)
        val dmlOps = Seq("del" -> "delete", "delk" -> "delete_keys",
          "dels" -> "delete_range", "upd" -> "update",
          "updk" -> "update_keys", "upds" -> "update_range",
          "sdml" -> "replay").flatMap { case (kind, as) =>
          dml.filter(_.kind == kind).sortBy(_.id)
            .map(r => (as, r.id, true, r.atMs))
        }
        // committed merges come from live commit markers AND folded
        // mrg records (a record in the dml-log is committed by the
        // fold rule; a LIVE mrg record without its marker is the
        // in-flight crash window — not committed). Legacy merges
        // (pre-record format) have only the marker.
        val recMerges = dml.filter(_.kind == "mrg")
          .filter(r => names(s"merge-${r.id}") || !names(s"mrg-${r.id}"))
          .map(r => (r.id, byName.get(s"merge-${r.id}")
            .map(_.getModificationTime).orElse(r.atMs)))
        val recIds = recMerges.map(_._1).toSet
        val legacyMerges = idsOf(names.toSeq, "merge-").filterNot(recIds)
          .map(i => (i, Some(byName(s"merge-$i").getModificationTime)
            : Option[Long]))
        val committedMergeIds = recIds ++ legacyMerges.map(_._1)
        val merges = (recMerges ++ legacyMerges).sortBy(_._1)
          .map { case (i, at) => ("merge", i, true, at) }
        val intents = idsOf(names.toSeq, "merge-", ".intent")
          .filterNot(committedMergeIds).sorted
          .map(i => ("merge", i, false,
            Some(byName(s"merge-$i.intent").getModificationTime)))
        folded ++ tail ++ dmlOps ++ merges ++ intents
      }
    import spark.implicits._
    entries.toDF("kind", "id", "committed", "at_ms")
  }

  /** Operational view of the table (the DESCRIBE DETAIL every table
    * format grows): one row per LIVE unit — name, data files, bytes,
    * exact row count (parquet footer record counts, no data read),
    * the cluster-key range, and per-clustered-column min/max from the
    * same statistics pruning consumes. Inspecting what the pruner
    * sees is how a user debugs a box scan that reads too much (e.g. a
    * skew-widened unit). Driver-only metadata pass, O(live units). */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val grid = readGrid(spark, dir)
    val (f, _) = DedupIngest.fs(spark, s"$dir/data")
    // unit name relative to data/ (leafUnits' convention), robust to
    // scheme-qualified listing paths
    def unitName(d: Path): String =
      if (d.getParent.getName == "data") d.getName
      else s"${d.getParent.getName}/${d.getName}"
    val rows = liveDirs(spark, dir).map { d =>
      val files = f.listStatus(d).toSeq.filter(s =>
        s.isFile && isDataFile(s.getPath.getName))
      val nRows = unitRows(f, d) // sidecar-first, footers as fallback
      val ranges = (grid.cols :+ KeyCol :+ BatchCol).map(c =>
        dirColumnRange(f, d, c))
      (unitName(d), files.size.toLong,
        files.map(_.getLen).sum, nRows,
        ranges.map(_.map(_._1)), ranges.map(_.map(_._2)))
    }
    import spark.implicits._
    rows.toDF("unit", "files", "bytes", "rows", "col_mins", "col_maxs")
      .withColumn("stat_cols",
        typedLit(grid.cols :+ KeyCol :+ BatchCol))
  }
}
