package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The clustered table as a Structured Streaming SOURCE — the read
  * side of the CDC contract [[LayoutIngest.readSince]] serves, wired
  * into Spark's own offset/commit machinery so a downstream pipeline
  * (featurization, index upkeep, replication) consumes the table
  * incrementally with checkpointed exactly-once delivery instead of
  * hand-rolled `readSince(myCheckpoint)` polling:
  *
  * {{{
  *   spark.readStream
  *     .format("graft-layout")            // or classOf[LayoutTableSource]
  *     .option("path", tableDir)
  *     .load()                            // rows include __batch
  * }}}
  *
  *  - OFFSET = [[LayoutIngest.contiguousCommittedBatch]], the
  *    contiguous committed batch prefix — NOT the max committed id:
  *    an id above a gap (an in-flight or crashed writer's batch) must
  *    hold the offset back, or the consumer would take its rows and
  *    then skip the gap batch when it later commits. Published-but-
  *    unmarked units (the crash window before the marker) sit above
  *    the offset and are invisible until their replay commits.
  *  - getBatch(lo, hi] = [[LayoutIngest.readBatchRange]] — the same
  *    sidecar-pruned scan as readSince, so each micro-batch opens
  *    only the units whose batch span intersects the range (a tail
  *    poll on a 100 TB table reads the tail, not the history;
  *    a tail poll opened 3.5% of table bytes, NOTES).
  *  - Exactly-once comes from Spark's checkpoint: offsets are durable
  *    in the consumer's checkpoint, batches are re-served
  *    deterministically on replay (units are write-once and the
  *    range predicate is pure).
  *  - `.option("maxBatchesPerTrigger", k)` bounds each micro-batch to
  *    k ingest batches (see [[LayoutTableSource.maxPerTrigger]]) — the
  *    catch-up rate limit every production source carries.
  *  - `.option("startingBatch", b)` floors a FRESH checkpoint at batch
  *    b (see [[LayoutTableSource.startingBatch]]) — the
  *    bootstrap-from-snapshot contract.
  *
  * V1 `Source` rather than a DSv2 `MicroBatchStream` deliberately:
  * getBatch returns a DataFrame, which IS this table's natural read
  * shape (pruned parquet scan + residual predicate) — a DSv2
  * implementation would re-build the parquet reading this engine
  * already gets from the planner. Same choice FileStreamSource makes
  * internally.
  *
  * Constraints: the table must carry ingest provenance (post-__batch;
  * pre-provenance tables fail at schema resolution), and
  * [[LayoutIngest.delete]] removals are NOT emitted (append-log
  * view; RTBF must not re-surface rows — the readSince contract). */
class LayoutTableSource extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-layout"

  /** BATCH read of the same format name ([[LayoutTableRelation]]):
    * `spark.read.format("graft-layout").load(dir)`, with optional
    * `sinceBatch` (CDC view — rows of batches > b, `__batch` kept) or
    * `asOfBatch` (ingest-time travel — rows of batches ≤ b), mutually
    * exclusive. Pushed-down filters prune UNITS via the stats/bloom
    * sidecars before any parquet reader opens. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = pathOf(parameters)
    def longOpt(key: String, min: Long): Option[Long] =
      parameters.get(key).map { s =>
        val v = s.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"graft-layout relation: $key must be an integer, got '$s'"))
        require(v >= min,
          s"graft-layout relation: $key must be >= $min, got $v")
        v
      }
    val since = longOpt("sinceBatch", -1L)
    val asOf = longOpt("asOfBatch", 0L)
    require(since.isEmpty || asOf.isEmpty,
      "graft-layout relation: sinceBatch and asOfBatch are mutually " +
        "exclusive (a CDC tail and a time-travel snapshot are " +
        "different views)")
    new LayoutTableRelation(sqlContext, dir, since, asOf)
  }

  /** BATCH WRITE of the same format name:
    * `df.write.format("graft-layout").mode("append").save(dir)` lands
    * the frame as ONE ordinary clustered ingest batch — keyed under
    * the table's fixed grid, range-partitioned into
    * `.option("filesPerBatch", k)` sorted files (default 4), published
    * behind the atomic rename + commit marker, provenance-stamped with
    * the next unused ledger id (taken under the TAIL lock, so a
    * concurrent writer can never mint the same id). Append-only by
    * design: Overwrite/ErrorIfExists/Ignore are refused — replacing a
    * clustered table is [[LayoutIngest.regrid]] (a deliberate rewrite
    * into a fresh dir), and "ignore if exists" has no meaning for a
    * table whose existence IS the bootstrap contract. NOT exactly-once
    * across driver retries (a retried save() mints a NEW id — that is
    * every DataFrameWriter sink's contract; use [[LayoutIngest.start]]
    * or explicit [[LayoutIngest.ingestBatch]] ids for replay-safe
    * ingest). The table must already be [[LayoutIngest.bootstrap]]ped:
    * the grid (bounds, bits, curve, blooms) is a design decision, not
    * something a write should improvise from one batch's value range. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    require(mode == org.apache.spark.sql.SaveMode.Append,
      s"graft-layout write: only SaveMode.Append is supported (got " +
        s"$mode) — a clustered table is replaced via regrid, never " +
        "silently overwritten")
    val dir = pathOf(parameters)
    val filesPerBatch = parameters.get("filesPerBatch")
      .map(s => s.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"graft-layout write: filesPerBatch must be a positive " +
          s"integer, got '$s'"))).getOrElse(4)
    require(filesPerBatch >= 1,
      s"graft-layout write: filesPerBatch must be >= 1, got $filesPerBatch")
    LayoutIngest.appendNext(sqlContext.sparkSession, dir, data,
      filesPerBatch): Unit
    createRelation(sqlContext, parameters)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-layout source: .option(\"path\", <table dir>) (or " +
        ".load(<table dir>)) is required"))

  /** `startingBatch`: serve only batches ≥ this id (default 0 = full
    * history). The bootstrap-from-snapshot contract (Delta's
    * startingVersion, Kafka's startingOffsets): a NEW consumer of a
    * 100 TB table reads the current state once with
    * [[LayoutIngest.read]]/[[LayoutIngest.readAsOf]], then TAILS from
    * the batch after its snapshot — without this floor, its fresh
    * checkpoint would replay the entire history through the stream. */
  private def startingBatch(parameters: Map[String, String]): Long = {
    val v = parameters.get("startingBatch")
      .map(s => s.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"graft-layout source: startingBatch must be a non-negative " +
            s"integer, got '$s'")))
      .getOrElse(0L)
    require(v >= 0,
      s"graft-layout source: startingBatch must be non-negative, got $v")
    v
  }

  /** `maxBatchesPerTrigger`: rate limit — at most this many ingest
    * batches per micro-batch (the maxFilesPerTrigger/maxOffsetsPerTrigger
    * convention every production source has). WITHOUT it, a consumer
    * attaching to a long-lived table (or resuming an old checkpoint)
    * gets the ENTIRE backlog as ONE micro-batch — at 100 TB that is an
    * unbounded unit of work with unbounded sink transaction size; the
    * cap turns catch-up into bounded, checkpointed steps. Default
    * unbounded (the tail-poll case, where each trigger sees a handful
    * of new batches anyway). */
  private def maxPerTrigger(parameters: Map[String, String]): Long = {
    val v = parameters.get("maxBatchesPerTrigger")
      .map(s => s.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"graft-layout source: maxBatchesPerTrigger must be a " +
            s"positive integer, got '$s'")))
      .getOrElse(Long.MaxValue)
    require(v > 0,
      s"graft-layout source: maxBatchesPerTrigger must be positive, got $v")
    v
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-layout source: the schema is the table's stored schema; " +
        "a user-supplied schema is not supported")
    maxPerTrigger(parameters): Unit // validate eagerly, at load() —
    startingBatch(parameters): Unit // createSource runs on the stream
    // thread, where a bad option would only surface through the
    // query's async failure
    val dir = pathOf(parameters)
    val s = LayoutIngest.tableSchema(sqlContext.sparkSession, dir)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-layout source: $dir has no stored schema — not a " +
          "(post-provenance) clustered table; regrid to enable"))
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): Source =
    new LayoutTableStreamSource(sqlContext.sparkSession,
      pathOf(parameters), maxPerTrigger(parameters),
      startingBatch(parameters), Option(metadataPath).filter(_.nonEmpty))

  /** STREAMING WRITE of the same format name — the sink half of the
    * format symmetry ([[LayoutIngest.start]] without the library
    * import):
    *
    * {{{
    *   df.writeStream.format("graft-layout")
    *     .option("checkpointLocation", ckpt)   // REQUIRED (see below)
    *     .start(tableDir)
    * }}}
    *
    * Each micro-batch lands through the SAME body as [[LayoutIngest
    * .start]]'s foreachBatch ([[LayoutIngest.microBatchIngest]]):
    * keyed under the fixed grid, published behind the atomic rename +
    * commit marker, marker ledger folded, best-effort compaction
    * cadence. Ledger-id regime defaults to TXN-MINTED (`(queryId,
    * epoch)` reserves the next unused id under the tail lock — safe
    * next to batch appends, merges, and other txn streams);
    * `.option("epochIds", "true")` opts into the EPOCH-KEYED exclusive
    * regime (content-addressed replay — [[LayoutIngest.start]]
    * documents the trade). `checkpointLocation` must be set as a
    * WRITER OPTION, not inherited from the session default dir: the
    * checkpoint's durable query id keys the txn reservations.
    *
    * Options: `filesPerBatch` (default 4), `compactEvery` (fold the
    * small-unit tail every n epochs; default off), `smallFileBytes`,
    * `lockWaitMs`, `epochIds`. Append output mode only (the table is
    * an append log with explicit DML for corrections — aggregations
    * stream in with watermark+append, or through foreachBatch);
    * partitionBy is refused (the physical layout IS the grid). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-layout sink: only Append output mode is supported (got " +
        s"$outputMode) — the clustered table is an append log; " +
        "Update/Complete rewrites are MERGE INTO / mergeRows on a " +
        "watermarked append stream or a foreachBatch body")
    require(partitionColumns.isEmpty,
      "graft-layout sink: partitionBy is not supported — the table's " +
        "physical layout is its bootstrap grid (cluster columns + " +
        "curve), not a directory partitioning")
    val dir = pathOf(parameters)
    val checkpoint = parameters.getOrElse("checkpointLocation",
      throw new IllegalArgumentException(
        "graft-layout sink: .option(\"checkpointLocation\", <dir>) is " +
          "required on the WRITER (the checkpoint's durable query id " +
          "keys the ledger txn reservations; a session-default " +
          "checkpoint root is not visible to the sink)"))
    // one parser for every numeric sink option: parse the value the
    // caller already retrieved (no re-lookup, no impossible defaults);
    // max defaults to Int.MaxValue for the Int-valued options so an
    // out-of-range value is refused HERE (typed) instead of being
    // silently truncated by .toInt (4294967297 would wrap to 1)
    def num(key: String, s: String, min: Long,
        max: Long = Int.MaxValue): Long = {
      val v = s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-layout sink: $key must be an integer, got '$s'"))
      require(v >= min, s"graft-layout sink: $key must be >= $min, got $v")
      require(v <= max, s"graft-layout sink: $key must be <= $max, got $v")
      v
    }
    def numOr(key: String, default: Long, min: Long,
        max: Long = Int.MaxValue): Long =
      parameters.get(key).map(num(key, _, min, max)).getOrElse(default)
    val epochIds = parameters.get("epochIds").map(_.toLowerCase) match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-layout sink: epochIds must be true or false, got '$other'")
    }
    new LayoutStreamSink(dir, checkpoint,
      filesPerBatch = numOr("filesPerBatch", 4, 1).toInt,
      compactEvery = parameters.get("compactEvery")
        .map(num("compactEvery", _, 1).toInt),
      smallFileBytes = numOr("smallFileBytes", 32L << 20, 1L,
        max = Long.MaxValue),
      lockWaitMs = numOr("lockWaitMs", 30000L, 0L, max = Long.MaxValue),
      txnIds = !epochIds)
  }
}

/** The V1 sink behind `writeStream.format("graft-layout")` — a thin
  * shell over [[LayoutIngest.microBatchIngest]] (the exact foreachBatch
  * body [[LayoutIngest.start]] runs): idempotence and replay come from
  * the marker ledger / txn reservations, NOT from the sink object, so
  * a restart (which constructs a fresh Sink) is exactly-once by the
  * same argument as a start() restart. The micro-batch frame Spark
  * hands addBatch is re-wrapped as a batch frame over the
  * already-planned row RDD ([[ColumnBridge.asBatchFrame]]) — the
  * clustered write re-shuffles it on the key, which a streaming-flagged
  * plan would refuse. */
private[streaming] class LayoutStreamSink(dir: String, checkpoint: String,
    filesPerBatch: Int, compactEvery: Option[Int], smallFileBytes: Long,
    lockWaitMs: Long, txnIds: Boolean) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    LayoutIngest.microBatchIngest(
      ColumnBridge.asBatchFrame(spark, data), batchId, dir, checkpoint,
      filesPerBatch, compactEvery, smallFileBytes, lockWaitMs, txnIds)
  }
  override def toString: String = s"LayoutStreamSink[$dir]"
}

private[streaming] class LayoutTableStreamSource(
    spark: SparkSession, dir: String,
    maxBatchesPerTrigger: Long = Long.MaxValue,
    startingBatch: Long = 0L,
    metadataPath: Option[String] = None) extends Source {

  override val schema: StructType =
    LayoutIngest.tableSchema(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-layout source: $dir has no stored schema"))

  /** The rate limit's cursor: the highest batch id this source has
    * OFFERED (getOffset) or been asked to serve (getBatch — which on a
    * checkpoint recovery re-seeds the cursor to the engine's planned
    * offset). Exactly-once never depends on it (delivery is always
    * (checkpointed, offered] on the ENGINE's durable offsets); the
    * cursor only paces the rate limit. When the rate limit is ON it is
    * PERSISTED under the engine-scoped `metadataPath` (the
    * FileStreamSource convention) as a monotone `offered-<n>` empty
    * file — without that, a CLEAN restart (last batch committed, so
    * the engine never calls getBatch to re-seed) resets the cursor to
    * the floor and getOffset offers regressed ranges the engine
    * rightly ignores: the cursor would creep up by
    * `maxBatchesPerTrigger` per EMPTY trigger (each a full markers
    * listing) for ~checkpoint/max cycles before any new data flows.
    * Persistence is crash-exact by the name-carries-state watermark
    * pattern: create `offered-<n>` (atomic), then best-effort delete
    * the superseded names; readers take the max. Unbounded sources
    * skip all of it — the cursor gates nothing there. */
  // seeded at the floor so a startingBatch + rate-limit combination
  // offers useful ranges immediately instead of creeping up from -1
  // through empty (below-floor) micro-batches
  @volatile private var offeredUpTo: Long =
    math.max(startingBatch - 1L, persistedOffered())

  private def offeredDir: Option[
      (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)] =
    if (maxBatchesPerTrigger == Long.MaxValue) None
    else metadataPath.map(p => DedupIngest.fs(spark, s"$p/graft-offered"))

  private def persistedOffered(): Long =
    offeredDir.map { case (f, od) =>
      if (!f.exists(od)) -1L
      else f.listStatus(od).toSeq.map(_.getPath.getName)
        .filter(_.matches("offered-\\d+"))
        .map(_.stripPrefix("offered-").toLong)
        .foldLeft(-1L)(math.max)
    }.getOrElse(-1L)

  /** Advance the cursor (monotone) and persist the new high-water mark
    * when the rate limit is on. Best-effort on the filesystem side —
    * a failed persist only costs creep-up time after the next restart,
    * never correctness. */
  private def advanceOffered(n: Long): Unit = {
    if (n <= offeredUpTo) return
    offeredUpTo = n
    offeredDir.foreach { case (f, od) =>
      scala.util.Try {
        if (!f.exists(od)) f.mkdirs(od): Unit
        f.create(new org.apache.hadoop.fs.Path(od, s"offered-$n"), true)
          .close()
        f.listStatus(od).toSeq.map(_.getPath)
          .filter(p => p.getName.matches("offered-\\d+") &&
            p.getName.stripPrefix("offered-").toLong < n)
          .foreach(p => f.delete(p, false): Unit)
      }: Unit
    }
  }

  override def getOffset: Option[OffsetV1] = {
    val n = LayoutIngest.contiguousCommittedBatch(spark, dir)
    if (n < 0) return None
    val capped =
      if (maxBatchesPerTrigger == Long.MaxValue) n
      else math.min(n, offeredUpTo + maxBatchesPerTrigger)
    advanceOffered(capped)
    Some(LongOffset(capped))
  }

  private def toBatchId(o: OffsetV1): Long = o match {
    case LongOffset(v) => v
    case SerializedOffset(json) => json.trim.toLong
    case other => other.json().trim.toLong
  }

  override def getBatch(start: Option[OffsetV1],
      end: OffsetV1): DataFrame = {
    // the startingBatch floor applies only to the FIRST range (no
    // checkpointed start): once a checkpoint exists its offset is the
    // truth — a floor above it would silently skip delivered-range
    // batches the consumer has not seen
    val lo = start.map(toBatchId(_) + 1L).getOrElse(startingBatch)
    val hi = toBatchId(end)
    advanceOffered(hi)
    ColumnBridge.asStreamingFrame(spark,
      LayoutIngest.readBatchRange(spark, dir, lo, hi))
  }

  override def stop(): Unit = ()

  override def toString: String = s"LayoutTableSource[$dir]"
}
