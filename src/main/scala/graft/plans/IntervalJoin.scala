package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-chromosome interval index: intervals sorted by start plus a
 * running max of stops for left-walk pruning. Shared by
 * [[IntervalJoin.IntervalJoinExec]]'s interpreted and generated probe
 * paths (the generated Java calls `upperBound` and reads the arrays via
 * the Scala accessor methods). Serializable — it rides a broadcast.
 */
final class ChromIndex(
    val starts: Array[Long],
    val maxStops: Array[Long],
    val stops: Array[Long],
    val rows: Array[InternalRow]) extends Serializable {

  /** Rightmost `i` with `starts(i) <= e`, or -1. */
  def upperBound(e: Long): Int = {
    var lo = 0; var hi = starts.length - 1; var ub = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= e) { ub = mid; lo = mid + 1 } else hi = mid - 1
    }
    ub
  }
}

/**
 * The interval-overlap join as a first-class planner operator — the full
 * custom-operator stack (LogicalPlan → SparkStrategy → SparkPlan) SURVEY.md
 * §4.1 reserves for the case where the built-ins fall short. Spark plans a
 * pure range predicate as BroadcastNestedLoopJoin: O(|left|·|right|) with
 * no index. This operator builds a per-chromosome sorted interval index
 * (starts ascending + running-max-stop for subtree pruning) from the small
 * side ONCE, broadcasts it, and probes it per left row in O(log g + hits):
 * exactly the join the reference's GeneCache linear scan approximates
 * (GeneCache.java:51-96) and its commented-out binary search intended
 * (:53-67).
 *
 * Emits one output row per overlapping (left, right) pair — the
 * enumeration form (`GenicAnnotator.overlappingGenes` surface); the
 * existence form stays an expression ([[graft.functions.IntervalExpressions]]).
 *
 * The planner strategy comes with the session's SQL extensions
 * (`spark.sql.extensions=graft.sql.GraftSqlExtensions`, set by
 * [[graft.GraftSession]]); build plans with [[IntervalJoin.join]].
 */
object IntervalJoin {

  /** Hard cap on the driver-collected build side (~5M intervals ≈ a few
    * hundred MB indexed — any real gene dimension is ≤10⁵). */
  val MaxBuildRows: Int = 5000000

  /** Logical node: inner join of `left` [chrom, start, end] intervals
    * against `right` [chrom, start, stop] intervals on overlap. Column
    * names fixed by contract: left (chromosome, start_pos, end_pos, ...),
    * right (g_chrom, g_start, g_stop, ...) — distinct names so the joined
    * output has no duplicates. */
  private val joinColNames =
    Set("chromosome", "start_pos", "end_pos", "g_chrom", "g_start", "g_stop")

  case class IntervalJoinPlan(left: LogicalPlan, right: LogicalPlan)
      extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ right.output
    // declare the join columns as referenced so ColumnPruning keeps them
    // even when the parent only selects payload columns
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(
        (left.output ++ right.output).filter(a => joinColNames.contains(a.name)))
    // Without this, the size-only stats visitor falls back to the PRODUCT
    // of the children's sizes (its default for unknown binary nodes) —
    // poisoning every AQE / broadcast decision above this operator. A
    // genomic containment join emits ~1 match per probe row, so the
    // honest estimate is left-dominated with the (small, broadcast)
    // right side's row width added.
    override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
      org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes,
        rowCount = left.stats.rowCount)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Physical operator: index the collected right side, broadcast, probe
    * per left row. Implements [[CodegenSupport]] so the probe fuses into
    * the streamed side's WholeStageCodegen span (like
    * BroadcastHashJoinExec): the generated loop does the binary search +
    * running-max walk inline, with no per-row iterator allocation — only
    * the one-time build-side collect stays out-of-band. */
  case class IntervalJoinExec(left: SparkPlan, right: SparkPlan)
      extends BinaryExecNode with CodegenSupport {

    override def output: Seq[Attribute] = left.output ++ right.output
    override def outputPartitioning = left.outputPartitioning
    // one probe row emits many joined rows referencing shared buffers
    override def needCopyResult: Boolean = true

    private def ordinal(plan: SparkPlan, name: String): Int = {
      val i = plan.output.indexWhere(_.name == name)
      require(i >= 0, s"interval join side missing column '$name' " +
        s"(has ${plan.output.map(_.name).mkString(", ")})")
      i
    }

    /** Build side: collect + index per chromosome, broadcast once —
      * shared by the interpreted and codegen paths (whichever runs
      * first builds it). executeTake(cap+1) bounds the driver collect: a
      * mis-pointed "dimension" table fails with a routing hint instead
      * of an OOM. */
    @transient private lazy val indexBroadcast
        : org.apache.spark.broadcast.Broadcast[
            java.util.HashMap[UTF8String, ChromIndex]] = {
      val rChrom = ordinal(right, "g_chrom")
      val rStart = ordinal(right, "g_start")
      val rStop = ordinal(right, "g_stop")
      val collected = right.executeTake(IntervalJoin.MaxBuildRows + 1)
      require(collected.length <= IntervalJoin.MaxBuildRows,
        s"interval-join build side exceeds ${IntervalJoin.MaxBuildRows} rows — " +
          "not a broadcastable dimension; use the binned fallback " +
          "(GenicAnnotator.annotateBinned / overlappingGenesBinned)")
      val index = new java.util.HashMap[UTF8String, ChromIndex]()
      collected.groupBy(r => r.getUTF8String(rChrom)).foreach {
        case (chrom, rows) =>
          val sorted = rows.map(_.copy()).sortBy(_.getLong(rStart))
          val starts = sorted.map(_.getLong(rStart))
          val stops = sorted.map(_.getLong(rStop))
          val maxStops = stops.clone()
          var i = 1
          while (i < maxStops.length) {
            if (maxStops(i) < maxStops(i - 1)) maxStops(i) = maxStops(i - 1)
            i += 1
          }
          index.put(chrom.clone(),
            new ChromIndex(starts, maxStops, stops,
              sorted.toArray[InternalRow]))
      }
      sparkContext.broadcast(index)
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val lChrom = ordinal(left, "chromosome")
      val lStart = ordinal(left, "start_pos")
      val lEnd = ordinal(left, "end_pos")
      val bc = indexBroadcast
      val schema = output

      left.execute().mapPartitions { it =>
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(schema, schema)
        it.flatMap { lrow =>
          val pc = bc.value.get(lrow.getUTF8String(lChrom))
          if (pc == null) Iterator.empty
          else {
            val s = lrow.getLong(lStart)
            val e = lrow.getLong(lEnd)
            // rightmost interval with start <= e
            val ub = pc.upperBound(e)
            if (ub < 0 || pc.maxStops(ub) < s) Iterator.empty
            else {
              val lcopy = lrow.copy()
              // walk left from ub; running-max prune: once the prefix
              // max stop drops below s nothing further can overlap
              (ub to 0 by -1).iterator
                .takeWhile(i => pc.maxStops(i) >= s)
                .filter(i => pc.stops(i) >= s)
                .map(i => proj(joined(lcopy, pc.rows(i))))
            }
          }
        }
      }
    }

    // ---- CodegenSupport: delegate produce to the streamed (left) side,
    // generate the probe loop in consume ----

    override def inputRDDs(): Seq[RDD[InternalRow]] =
      left.asInstanceOf[CodegenSupport].inputRDDs()

    override protected def doProduce(ctx: CodegenContext): String =
      left.asInstanceOf[CodegenSupport].produce(ctx, this)

    override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
        row: ExprCode): String = {
      val bcTerm = ctx.addReferenceObj("intervalIndexBc", indexBroadcast,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      val mapTerm = ctx.addMutableState("java.util.HashMap",
        "intervalIndexMap",
        v => s"$v = (java.util.HashMap) $bcTerm.value();")
      val chromEv = input(ordinal(left, "chromosome"))
      val startEv = input(ordinal(left, "start_pos"))
      val endEv = input(ordinal(left, "end_pos"))
      val evalInput = evaluateVariables(input)
      // right-side column accessors bound to the matched build row
      val rrow = ctx.freshName("intervalRightRow")
      ctx.currentVars = null
      ctx.INPUT_ROW = rrow
      val rightVars = right.output.zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, a.nullable).genCode(ctx)
      }
      val pc = ctx.freshName("chromIdx")
      val qs = ctx.freshName("qs")
      val qe = ctx.freshName("qe")
      val ub = ctx.freshName("ub")
      val i = ctx.freshName("i")
      val idxCls = classOf[ChromIndex].getName
      s"""
         |$evalInput
         |if (!(${chromEv.isNull}) && !(${startEv.isNull}) &&
         |    !(${endEv.isNull})) {
         |  $idxCls $pc = ($idxCls) $mapTerm.get(${chromEv.value});
         |  if ($pc != null) {
         |    long $qs = ${startEv.value};
         |    long $qe = ${endEv.value};
         |    int $ub = $pc.upperBound($qe);
         |    for (int $i = $ub; $i >= 0 && $pc.maxStops()[$i] >= $qs; $i--) {
         |      if ($pc.stops()[$i] >= $qs) {
         |        org.apache.spark.sql.catalyst.InternalRow $rrow =
         |          (org.apache.spark.sql.catalyst.InternalRow) $pc.rows()[$i];
         |        ${consume(ctx, input ++ rightVars)}
         |      }
         |    }
         |  }
         |}
       """.stripMargin
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy mapping the logical node to the exec. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case IntervalJoinPlan(l, r) =>
        IntervalJoinExec(planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /**
   * Interval join of `left` (chromosome, start_pos, end_pos, ...) against
   * `right` (g_chrom, g_start, g_stop, ...): one row per overlapping
   * pair, left columns then right columns. The session must carry
   * [[graft.sql.GraftSqlExtensions]], which plans the join.
   */
  def join(spark: SparkSession, left: DataFrame, right: DataFrame): DataFrame = {
    if (!ColumnBridge.plansWith(spark, Strategy))
      throw new IllegalStateException("IntervalJoin needs the graft planner " +
        "strategy: build the session with spark.sql.extensions=" +
        "graft.sql.GraftSqlExtensions (graft.GraftSession does)")
    ColumnBridge.ofRows(spark, IntervalJoinPlan(
      ColumnBridge.analyzedPlan(left), ColumnBridge.analyzedPlan(right)))
  }
}
