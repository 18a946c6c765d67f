package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Streaming corpus ingest with incremental deduplication — the
 * recurring-crawl pipeline as one continuous query: each micro-batch is
 * (1) exact-deduplicated within itself, (2) checked against the
 * PERSISTED corpus index ([[Dedup.CorpusIndex]]: distinct fingerprints +
 * word n-gram hashes + optionally MinHash signatures and LSH band keys,
 * the full batch dedup ladder), and (3) its survivors appended to the
 * corpus while their index entries append to the index — so later
 * batches, and REPLAYS of this batch after a crash, see them.
 *
 * Replay safety falls out of the dedup itself: re-processing a batch
 * finds its own fingerprints already in the index and admits nothing —
 * no high-water-mark bookkeeping.
 *
 * Write ordering is load-bearing twice over. Survivors are STAGED to
 * disk before anything appends: the survivor frame's lineage reads the
 * index paths, and Spark invalidates and lazily RECOMPUTES cached plans
 * whose input paths are appended to (CacheManager.recacheByPath) — an
 * unstaged frame would re-evaluate against the just-updated index and
 * dedup the batch against itself (observed: corpus append of zero
 * rows). The index then appends BEFORE the corpus, so a crash between
 * the writes loses that batch's survivors from the corpus rather than
 * duplicating them — at-most-once per document, the right default for
 * training data, where a duplicate costs more than a dropped crawl doc
 * (reconcile corpus from `stage/` if the gap matters; a crash between
 * the fps and grams appends can also leave a doc's grams missing,
 * which only weakens the NEAR-dup gate for that doc — the exact gate
 * stays exact).
 *
 * Scale shape per batch: the index sides are plain parquet reads joined
 * on their hash — at corpus scale write them bucketed on the hash
 * ([[graft.sources.BucketedTables]]) so only the batch shuffles; the
 * batch-side work is [[Dedup.dedupAgainstIndex]]'s two anti-joins.
 */
object DedupIngest {

  private val FpSchema = StructType(Seq(StructField("__fp", StringType)))
  private val GramSchema = StructType(Seq(StructField("__g", StringType)))
  private val MsigSchema = StructType(Seq(
    StructField("__mid", StringType),
    StructField("sig", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))))
  private val MbandSchema = StructType(Seq(
    StructField("band_idx", org.apache.spark.sql.types.IntegerType),
    StructField("band_key", org.apache.spark.sql.types.LongType),
    StructField("__mid", StringType)))

  /** Filesystem for `path` via the Hadoop API — NOT `java.io.File`,
    * which silently reports "missing" for any non-local URI (hdfs://,
    * s3a://); on remote storage that would read the index as empty every
    * batch and admit every duplicate while the parquet writes kept
    * succeeding. */
  private[streaming] def fs(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Rename that FAILS LOUDLY: Hadoop reports most rename failures by
    * returning false, not by throwing, and every swap/fold/promote in
    * the streamed families sits at a point where continuing past a
    * false reads as an EMPTY live dir or a missing stage — silently
    * wrong results (an index that admits every duplicate, a tombstone
    * set that resurrects deleted docs) instead of a visible error.
    * Crash recovery heals the on-disk state either way; this makes the
    * CURRENT process stop instead of computing against it. */
  private[graft] def renameOrThrow(f: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      what: String): Unit =
    if (!f.rename(src, dst))
      throw new IllegalStateException(
        s"$what: rename $src -> $dst failed (filesystem returned false)")

  /** Recover a half-finished [[compact]] swap: if the live dir is gone
    * but its staged replacement exists, promote the replacement. When
    * the live dir EXISTS alongside a stale `.next` (crash between the
    * `.next` write and the live delete), drop the `.next` — it must not
    * survive to fail the next compaction's write. */
  private[streaming] def recoverSwap(spark: SparkSession, path: String): Unit = {
    val (f, live) = fs(spark, path)
    val next = new org.apache.hadoop.fs.Path(path + ".next")
    if (f.exists(next)) {
      if (!f.exists(live)) renameOrThrow(f, next, live, "recoverSwap")
      else f.delete(next, true)
    }
  }

  private[streaming] def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    recoverSwap(spark, path)
    val (f, p) = fs(spark, path)
    if (f.exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Fold each append-accumulated side back to a bounded file count —
    * every batch lands new small files, so a long-running ingest pays
    * growing listing/scan overhead without this. The index sides
    * re-`distinct` and fully rewrite (they shrink under distinct and are
    * the per-batch probe targets) through [[MarkerLedger.swap]]. The corpus is
    * NOT rewritten wholesale: at scale a compaction cadence that
    * rewrites the full corpus is a non-starter, so only the small-file
    * tail folds ([[foldCorpusTail]]) and large generations are never
    * touched again.
    */
  private def compact(spark: SparkSession, dir: String,
      smallFileBytes: Long): Unit = LedgerLock.withLock(spark, dir) {
    Seq("fps" -> FpSchema, "grams" -> GramSchema, "msigs" -> MsigSchema,
        "mbands" -> MbandSchema).foreach { case (side, schema) =>
      MarkerLedger.swap(spark, s"$dir/$side")(spark.read.schema(schema)
        .parquet(s"$dir/$side").distinct().write.parquet(_))
    }
    foldCorpusTail(spark, s"$dir/corpus", smallFileBytes)
  }

  /** A parquet data file (not a `_SUCCESS` marker / hidden file). */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  private def manifestPath(corpus: String) =
    new org.apache.hadoop.fs.Path(corpus + ".foldmanifest")

  /**
   * Size-tiered corpus compaction: fold only the files under
   * `smallFileBytes` into one, leaving large generations untouched —
   * bytes rewritten per cycle are bounded by the small-file TAIL, not
   * corpus size. Folded output re-enters the tier ladder: once it grows
   * past the threshold it is never rewritten again.
   *
   * Crash safety is manifest-logged (append-only corpus, so the index
   * sides' delete-then-rename swap doesn't apply): (1) write the folded
   * copy to `corpus.fold`; (2) durably record the planned renames and
   * deletes in `corpus.foldmanifest`; (3) rename fold parts into the
   * corpus; (4) delete the folded small files; (5) drop manifest + fold
   * dir. [[recoverFold]] replays (3)-(5) from the manifest — renames
   * and deletes are idempotent per file — so a crash at any point
   * converges to exactly-once corpus contents. A `corpus.fold` with no
   * manifest (crash during (1)) is simply discarded.
   */
  private[graft] def foldCorpusTail(spark: SparkSession, corpus: String,
      smallFileBytes: Long): Unit = {
    recoverFold(spark, corpus)
    val (f, live) = fs(spark, corpus)
    if (!f.exists(live)) return
    val smalls = f.listStatus(live).toSeq.filter(s =>
      s.isFile && isDataFile(s.getPath.getName) && s.getLen < smallFileBytes)
    if (smalls.size < 2) return
    val foldDir = new org.apache.hadoop.fs.Path(corpus + ".fold")
    // fold into files of ~8× the threshold: outputs usually GRADUATE
    // (cross the threshold and never re-fold — the tier ladder stays
    // O(tail) per cycle, not O(tail²) over the ingest's lifetime), and
    // a delayed compaction of a huge tail still writes in parallel
    // instead of through one coalesced task
    val foldParts = math.max(1, math.ceil(
      smalls.map(_.getLen).sum.toDouble / (8.0 * smallFileBytes)).toInt)
    spark.read.parquet(smalls.map(_.getPath.toString): _*)
      .coalesce(foldParts).write.mode("overwrite").parquet(foldDir.toString)
    val parts = f.listStatus(foldDir).toSeq
      .filter(s => s.isFile && isDataFile(s.getPath.getName))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val installs = parts.zipWithIndex.map { case (p, i) =>
      (p.getPath.getName, s"fold-$stamp-$i.parquet")
    }
    // the COMMIT trailer makes the manifest a real WAL record: recovery
    // acts only on a fully-written manifest — a crash mid-write leaves
    // a trailer-less file that recovery discards along with the fold
    val out = f.create(manifestPath(corpus), true)
    try {
      val text = (installs.map { case (src, dst) => s"F\t$src\t$dst" } ++
        smalls.map(s => s"S\t${s.getPath.getName}") ++
        Seq("COMMIT")).mkString("\n")
      out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    recoverFold(spark, corpus) // the happy path IS the recovery replay
  }

  /** Complete a manifest-logged [[foldCorpusTail]]: install every fold
    * part still staged, then delete every listed small file, then drop
    * the manifest and fold dir. No manifest, or a manifest without its
    * COMMIT trailer (crash mid-write) → discard the stage untouched
    * (nothing was published, the small files still hold every row). */
  private[graft] def recoverFold(spark: SparkSession, corpus: String): Unit = {
    val (f, live) = fs(spark, corpus)
    val foldDir = new org.apache.hadoop.fs.Path(corpus + ".fold")
    val man = manifestPath(corpus)
    def discardStage(): Unit = {
      if (f.exists(man)) f.delete(man, false)
      if (f.exists(foldDir)) f.delete(foldDir, true)
    }
    if (!f.exists(man)) {
      if (f.exists(foldDir)) f.delete(foldDir, true)
      return
    }
    val in = f.open(man)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    if (lines.lastOption != Some("COMMIT")) { discardStage(); return }
    val entries = lines.init.map(_.split("\t"))
    entries.collect { case Array("F", src, dst) =>
      val s = new org.apache.hadoop.fs.Path(foldDir, src)
      if (f.exists(s))
        renameOrThrow(f, s, new org.apache.hadoop.fs.Path(live, dst),
          "recoverFold")
    }
    entries.collect { case Array("S", name) =>
      val p = new org.apache.hadoop.fs.Path(live, name)
      if (f.exists(p)) f.delete(p, false)
    }
    f.delete(man, false)
    if (f.exists(foldDir)) f.delete(foldDir, true)
  }

  /**
   * Targeted corpus-document deletion — right-to-be-forgotten for the
   * data AT REST, not just the served indexes ([[IndexIngest
   * .deleteBm25Docs]] covers those): physically removes the doc's
   * corpus rows, its staged copy, and its MinHash signature/band rows,
   * under the same intent/commit marker ledger as the index deletions
   * (namespaced `del-<deleteId>` in `markers/`; fresh caller-managed
   * id; replay of a committed deletion is an O(1) no-op).
   *
   * The exact-fingerprint (`fps/`) and word-gram (`grams/`) entries are
   * deliberately RETAINED: they are one-way content hashes (md5), not
   * recoverable content — and they are precisely what makes the
   * deletion replay-safe with NO tombstone side-channel: a crashed
   * batch that replays after the deletion re-derives the doc's
   * fingerprint, finds it still indexed, and suppresses re-admission.
   * Dropping them would re-admit the forgotten doc on the next crawl
   * of the same page. What IS removed: the text itself (corpus +
   * stage), and the id-keyed signature/band rows — so the band index
   * no longer yields the doc as a near-dup candidate and no id↔content
   * linkage survives at rest.
   *
   * Crash safety: every step is an idempotent filtered rewrite under
   * the recoverable `.next` swap (fold recovery first); an
   * intent-without-commit replay simply redoes them. SINGLE-WRITER:
   * like compaction, run deletions from the ingest thread between
   * batches — a rewrite racing a concurrent batch append would drop
   * the append.
   *
   * @return false iff this deleteId already committed (replay no-op)
   */
  def deleteCorpusDocs(spark: SparkSession, dir: String, ids: Seq[String],
      deleteId: Long, idCol: String = "doc_id"): Boolean =
      LedgerLock.withLock(spark, dir) {
    require(ids.nonEmpty, "need at least one doc id to delete")
    require(deleteId >= 0, s"deleteId must be non-negative, got $deleteId")
    val m = s"del-$deleteId"
    if (MarkerLedger.has(spark, dir, m)) {
      MarkerLedger.drop(spark, dir, s"$m.intent")
      return false
    }
    MarkerLedger.put(spark, dir, s"$m.intent")
    // corpus + stage: schema is caller-defined — filter on the id cast
    // to string so the at-rest purge is id-type agnostic. NULL-safe: a
    // null id can never match a tombstone — keep it (NOT(in-list) alone
    // evaluates NULL and filter would drop the row)
    def purge(side: String, id: Column): Unit =
      MarkerLedger.swap(spark, s"$dir/$side")(spark.read.parquet(s"$dir/$side")
        .filter(!coalesce(id.isInCollection(ids), lit(false))).write.parquet(_))
    purge("corpus", col(idCol).cast("string"))
    purge("stage", col(idCol).cast("string"))
    purge("msigs", col("__mid"))
    purge("mbands", col("__mid"))
    MarkerLedger.commit(spark, dir, m)
    true
  }

  /**
   * @param docs       streaming DataFrame with `idCol` and `textCol`
   * @param dir        corpus root: `corpus/`, `fps/`, `grams/` parquet
   *                   (+ `msigs/`, `mbands/` when the MinHash gate is on)
   * @param checkpoint streaming checkpoint (file-source progress)
   * @param availableNow process what's buffered, then stop (testing)
   * @param minhashHashes >0 enables the MinHash/LSH near-dup gate
   *                   ([[Dedup.MinHashBandIndex]]): incoming docs whose
   *                   estimated char-shingle Jaccard against any indexed
   *                   doc reaches `minhashThreshold` are suppressed —
   *                   the near-dup class the word-gram gate misses when
   *                   edits break every `n`-gram. 0 (default) keeps the
   *                   exact + gram gates only.
   *
   * RESTART AFTER A DRIVER CRASH: each micro-batch holds the dir's
   * [[LedgerLock]], so a crash mid-batch leaves the lock behind. A
   * restart on the SAME host self-recovers — the lock names its holder
   * `pid@host`, and an acquire that can prove that pid dead retires the
   * lock itself before replaying the batch (replay is exact behind the
   * marker ledger). A restart on a DIFFERENT host (cluster-mode driver
   * failover) cannot prove death locally: set
   * [[LedgerLock.LockStaleMsKey]] comfortably above the longest
   * micro-batch so the new driver lease-breaks instead of dying with
   * `ConcurrentWriterException`, or `LedgerLock.break` once by hand.
   */
  def start(docs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8, minHits: Int = 1,
      availableNow: Boolean = false,
      compactEvery: Option[Int] = None,
      smallFileBytes: Long = 32L << 20,
      minhashHashes: Int = 0, minhashBands: Int = 16,
      minhashThreshold: Double = 0.7,
      minhashShingleN: Int = 5): StreamingQuery = {
    require(compactEvery.forall(_ > 0), "compactEvery must be positive")
    require(minhashHashes == 0 || minhashHashes % minhashBands == 0,
      "minhashBands must divide minhashHashes")
    val writer = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // single-writer guard over the whole read-index → append cycle
        // (the compaction cadence below takes its own lock — the lock
        // is not reentrant)
        LedgerLock.withLock(spark, dir) {
        val mh = if (minhashHashes > 0) Some(Dedup.MinHashBandIndex(
          readOrEmpty(spark, s"$dir/msigs", MsigSchema),
          readOrEmpty(spark, s"$dir/mbands", MbandSchema),
          minhashHashes, minhashBands, minhashThreshold,
          (df, id, t) => Dedup.minhashSignaturesFromText(
            df, id, t, minhashShingleN, minhashHashes))) else None
        val idx = Dedup.CorpusIndex(
          readOrEmpty(spark, s"$dir/fps", FpSchema),
          readOrEmpty(spark, s"$dir/grams", GramSchema), mh)
        val intra = Dedup.exactDedup(batch,
            graft.operators.TextAnalysis.fingerprint(col(textCol)),
            col(idCol))
          .filter(!col("is_duplicate")).drop("is_duplicate")
        val survivors = Dedup.dedupAgainstIndex(intra, idx,
          idCol, col(textCol), n, minHits)
        try {
          // stage first — see the object doc: appending to the index
          // paths recaches-by-path any plan that reads them, so all
          // downstream appends must derive from this frozen copy
          survivors.write.mode("overwrite").parquet(s"$dir/stage")
          val staged = spark.read.parquet(s"$dir/stage")
          val (fps, grams) = Dedup.indexEntries(staged, idCol,
            col(textCol), n)
          // index before corpus: a crash between the writes drops the
          // batch on replay instead of double-appending it
          fps.write.mode("append").parquet(s"$dir/fps")
          grams.write.mode("append").parquet(s"$dir/grams")
          mh.foreach { m =>
            val sigs = graft.operators.PersistTracker.trackPersist(
              m.signatureOf(staged, idCol, col(textCol))
                .select(col(idCol).cast("string").as("__mid"), col("sig")))
            sigs.write.mode("append").parquet(s"$dir/msigs")
            sigs.select(col("__mid"),
                posexplode(m.bandKeysOf(col("sig")))
                  .as(Seq("band_idx", "band_key")))
              .select("band_idx", "band_key", "__mid")
              .write.mode("append").parquet(s"$dir/mbands")
          }
          staged.write.mode("append").parquet(s"$dir/corpus")
        } finally {
          // the ingest owns this session's dedup caches (caller role,
          // like Verify/Bench) — released once per batch; early release
          // under a concurrent query only costs recomputation
          Dedup.releasePersisted()
        }
        }
        // batch ids persist in the checkpoint, so the cadence survives
        // restarts (the StreamingVcfLoad.compactEvery pattern)
        compactEvery.foreach { every =>
          if ((batchId + 1) % every == 0) compact(spark, dir, smallFileBytes)
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
