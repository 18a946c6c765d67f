package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Pruning observability for [[LayoutTableRelation]]: the last scan's
  * (units read, units live), driver-side. The battery's premise gates
  * and specs read it to assert the relation actually PRUNED — the
  * result hash alone cannot distinguish a pruned scan from a full one.
  * Volatile single-slot (scans of interest run one at a time on the
  * driver); never consulted by the scan itself. */
private[graft] object LayoutScanStats {
  @volatile var lastUnitsRead: Int = -1
  @volatile var lastUnitsLive: Int = -1
  /** Columns the last scan materialized (Catalyst's pushed
    * `requiredColumns`) — what lets a spec assert column PRUNING
    * reached the V1 scan (e.g. the one-sided MERGE's target-key read
    * must touch only the key, never payload). */
  @volatile var lastColumnsRead: Seq[String] = Nil
}

/** The clustered table as a BATCH relation — the SQL-surface twin of
  * the API reads ([[LayoutIngest.read]]/[[LayoutIngest.scanBox]]/
  * [[LayoutIngest.scanPoints]]), so the table is queryable with plain
  * `spark.read` / Spark SQL instead of library calls:
  *
  * {{{
  *   spark.read.format("graft-layout").load(tableDir)
  *     .where($"user_id".between(lo, hi))          // box-pruned
  *   spark.read.format("graft-layout")
  *     .option("sinceBatch", 7).load(tableDir)     // CDC view, keeps __batch
  *   spark.read.format("graft-layout")
  *     .option("asOfBatch", 3).load(tableDir)      // ingest-time travel
  * }}}
  *
  * Pushed-down catalyst filters become UNIT pruning before the parquet
  * reader is even built: conjunctive range/equality filters on LONG
  * columns feed the stats-sidecar box machinery, equality/IN on
  * declared [[LayoutIngest.Grid.bloomCols]] feed the per-unit Bloom
  * probes. Pruning here is advisory — every pushed filter is reported
  * unhandled, so Spark REAPPLIES it above the scan and the result is
  * exact regardless of how conservative the unit selection was (the
  * `PrunedFilteredScan` contract; `OR`/`NOT` shapes simply prune
  * nothing). Column pruning rides `requiredColumns`.
  *
  * V1 `PrunedFilteredScan` rather than a DSv2 `TableProvider`
  * deliberately, the [[LayoutTableSource]] argument one surface over:
  * the relation's body IS a DataFrame (the planner's own pruned
  * parquet scan), and a DSv2 implementation would re-build parquet
  * reading this engine already gets for free. The one cost is the
  * Row boundary at `df.rdd` — acceptable for the SQL convenience
  * surface; the hot API paths stay pure DataFrame. */
private[graft] class LayoutTableRelation(
    override val sqlContext: SQLContext, dir: String,
    sinceBatch: Option[Long], asOfBatch: Option[Long])
  extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** The table dir — for the DML rules ([[graft.sql.GraftDmlRule]])
    * that route SQL DELETE/UPDATE/MERGE over this relation to
    * [[LayoutIngest.delete]]/[[LayoutIngest.update]]/
    * [[LayoutIngest.mergeRows]]. */
  private[graft] def tableDir: String = dir

  /** sinceBatch/asOfBatch views are reads of HISTORY — every write
    * surface (insert, DELETE, MERGE) refuses them. */
  private[graft] def isProvenanceView: Boolean =
    sinceBatch.isDefined || asOfBatch.isDefined

  /** SQL `INSERT INTO <view>` — same append body as the
    * DataFrameWriter path ([[LayoutIngest.appendNext]]): one clustered
    * ingest batch under the next unused ledger id. Spark resolves the
    * insert against the relation's FULL schema, which includes the
    * persisted cluster key — a COMPUTED column here: whatever the
    * statement supplies in the `zkey` position is DISCARDED and the
    * key is recomputed from the table's fixed grid (the generated-
    * column convention; accepting a caller-supplied key would let one
    * bad INSERT break every pruning invariant the table guarantees).
    * `INSERT OVERWRITE` is refused (replace = regrid); inserting into
    * a provenance VIEW (sinceBatch/asOfBatch) is refused — those are
    * reads of history, not tables.
    *
    * CONCURRENT STREAMS: safe next to a default (txn-minted) stream
    * writer; do NOT insert while an EPOCH-KEYED stream (the
    * [[LayoutIngest.start]] `epochIds = true` opt-in) is attached —
    * the [[LayoutIngest.appendNext]]
    * exclusive-ledger warning applies verbatim (this insert would take
    * the stream's next epoch id and silently drop that future
    * batch). */
  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = {
    require(!overwrite,
      "graft-layout insert: INSERT OVERWRITE is not supported — a " +
        "clustered table is replaced via regrid, never silently " +
        "overwritten")
    require(sinceBatch.isEmpty && asOfBatch.isEmpty,
      "graft-layout insert: cannot insert into a sinceBatch/asOfBatch " +
        "view — load the table without provenance options to append")
    val payload = data.drop(LayoutIngest.KeyCol, LayoutIngest.BatchCol)
    LayoutIngest.appendNext(spark, dir, payload, filesPerBatch = 4): Unit
  }

  private def spark = sqlContext.sparkSession

  /** `sinceBatch` keeps [[LayoutIngest.BatchCol]] (the CDC consumer
    * checkpoints `max(__batch)`); plain and as-of reads hide it, like
    * [[LayoutIngest.read]]. */
  private val keepBatch = sinceBatch.isDefined

  override val schema: StructType = {
    val stored = LayoutIngest.tableSchema(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-layout relation: $dir has no stored schema — not a " +
          "(post-provenance) clustered table; regrid to enable"))
    if (keepBatch) stored
    else StructType(
      stored.fields.filterNot(_.name == LayoutIngest.BatchCol))
  }

  private val longCols: Set[String] =
    schema.fields.filter(_.dataType == LongType).map(_.name).toSet
  private val bloomCols: Set[String] = {
    val g = LayoutIngest.readGrid(spark, dir)
    g.bloomCols.filter(c => schema.fields.exists(f => f.name == c &&
      (f.dataType == LongType || f.dataType == StringType))).toSet
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case _ => None
  }

  /** Probe value for the bloom path: Long or String only (the sidecar
    * types); anything else disables the point prune for that filter. */
  private def asProbe(v: Any): Option[Any] = v match {
    case n: Number => Some(n.longValue())
    case s: String => Some(s)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // collect conjunctive bounds per long column (inclusive,
    // CONSERVATIVE: >/< treated as >=/<= — pruning is advisory, the
    // exact predicate is reapplied by Spark) and point-probe sets per
    // bloom column. Top-level filters are already conjuncts; nested
    // And unpacks, Or/Not prune nothing.
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    val pts = scala.collection.mutable.Map.empty[String, Seq[Any]]
    def tightenLo(c: String, v: Long): Unit =
      lo(c) = math.max(lo.getOrElse(c, Long.MinValue), v)
    def tightenHi(c: String, v: Long): Unit =
      hi(c) = math.min(hi.getOrElse(c, Long.MaxValue), v)
    def probe(c: String, vs: Seq[Any]): Unit = {
      val ok = vs.flatMap(asProbe)
      // only when EVERY value is probeable — a lost value would make
      // the bloom prune unsound for the IN as a whole; repeated
      // filters on one column UNION their values (conservative — an
      // AND of INs could intersect, but a superset never loses units)
      if (ok.size == vs.size && ok.nonEmpty)
        pts(c) = (pts.getOrElse(c, Seq.empty) ++ ok).distinct
    }
    def walk(f: Filter): Unit = f match {
      case And(a, b) => walk(a); walk(b)
      case EqualTo(c, v) =>
        if (longCols(c)) asLong(v).foreach { l =>
          tightenLo(c, l); tightenHi(c, l)
        }
        if (bloomCols(c) && v != null) probe(c, Seq(v))
      case In(c, vs) =>
        val nn = vs.toSeq.filter(_ != null)
        if (longCols(c) && nn.nonEmpty) {
          val ls = nn.flatMap(asLong)
          if (ls.size == nn.size) { tightenLo(c, ls.min); tightenHi(c, ls.max) }
        }
        if (bloomCols(c) && nn.nonEmpty) probe(c, nn)
      case GreaterThan(c, v) if longCols(c) =>
        asLong(v).foreach(tightenLo(c, _))
      case GreaterThanOrEqual(c, v) if longCols(c) =>
        asLong(v).foreach(tightenLo(c, _))
      case LessThan(c, v) if longCols(c) =>
        asLong(v).foreach(tightenHi(c, _))
      case LessThanOrEqual(c, v) if longCols(c) =>
        asLong(v).foreach(tightenHi(c, _))
      case _ => () // Or/Not/IsNull/string ranges: no pruning
    }
    filters.foreach(walk)
    val box = (lo.keySet ++ hi.keySet).toSeq.sorted.map { c =>
      (c, lo.getOrElse(c, Long.MinValue), hi.getOrElse(c, Long.MaxValue))
    }
    val (batchLo, batchHi) = (sinceBatch, asOfBatch) match {
      case (Some(b), _) => (b + 1L, Long.MaxValue)
      case (_, Some(b)) => (0L, b)
      case _ => (0L, Long.MaxValue)
    }
    val (df, read, live) = LayoutIngest.relationScan(spark, dir,
      box, pts.toSeq.sortBy(_._1), batchLo, batchHi, keepBatch)
    LayoutScanStats.lastUnitsRead = read
    LayoutScanStats.lastUnitsLive = live
    LayoutScanStats.lastColumnsRead = requiredColumns.toSeq
    val projected =
      if (requiredColumns.isEmpty) df.select()
      else df.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.rdd
  }

  override def toString: String = s"LayoutTableRelation[$dir]"
}
