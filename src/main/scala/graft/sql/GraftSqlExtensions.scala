package graft.sql

import graft.streaming.{LayoutIngest, LayoutTableRelation}
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StringType}

/**
 * SQL DML for the clustered table: `DELETE FROM` and `MERGE INTO`
 * over a `graft-layout` temp view route to [[LayoutIngest.delete]]
 * and [[LayoutIngest.mergeRows]] — the relation stays a V1
 * `PrunedFilteredScan` (see the trade-off note on
 * [[LayoutTableRelation]]) and the statements are intercepted as a
 * POST-HOC RESOLUTION rule, the standard pattern for V1-relation
 * lakehouse layers (Spark's own analyzer fully resolves the
 * statement — target, source, condition, merge assignments — and the
 * rule converts the resolved command into a runnable one before the
 * v2-only checks fire).
 *
 * Installed at session build (extensions bind at construction) by
 * [[graft.GraftSession]], which sets
 * `spark.sql.extensions=graft.sql.GraftSqlExtensions`; the same
 * extensions also plan [[graft.plans.IntervalJoin]].
 *
 * Supported shapes (anything else is refused with a typed error, never
 * silently narrowed):
 *
 *  - `DELETE FROM t [WHERE <box> [OR <box>]...]` — each disjunct must
 *    be a conjunction of `=`, `<`, `<=`, `>`, `>=`, `BETWEEN` over
 *    LONG columns and integral literals (exactly the
 *    [[LayoutIngest.DmlTarget.Boxes]] contract, translated EXACTLY —
 *    `>`/`<` shift by one, integers make open bounds closed), or a
 *    whole `col IN (literals)` (one point box per value — the
 *    forget-these-ids statement), or a whole NEGATED point shape —
 *    `col != v`, `col NOT IN (literals)`, `col NOT BETWEEN lo AND hi`
 *    (the retention statement) — decomposed EXACTLY into the
 *    complement intervals on the long domain (NULL column values stay
 *    kept, matching SQL's three-valued NOT). A top-level OR of such
 *    disjuncts runs as ONE union-of-boxes delete
 *    ([[LayoutIngest.delete]]: one ledger entry, at most one
 *    rewrite per affected unit, overlap harmless). No WHERE deletes
 *    every row. Every DELETE and UPDATE runs under the next unused id
 *    of its target's kind ([[LayoutIngest.dmlNext]]), classified by
 *    [[DmlTranslate.target]].
 *  - `DELETE FROM t WHERE <stringCol> = '...' / IN (...)` (and
 *    top-level ORs of those over ONE string column) — the doc-id
 *    TAKEDOWN statement, a [[LayoutIngest.DmlTarget.Keys]] target:
 *    Bloom-sidecar-pruned unit rewrite (declare the column in
 *    `Grid.bloomCols`), one `delk-<id>` ledger entry recording every
 *    key, replayed on replicas by `graft_replicate`. NULL literals
 *    drop out exactly (three-valued IN).
 *  - `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED [AND c] THEN
 *    UPDATE SET ... WHEN NOT MATCHED [AND c] THEN INSERT ...` — the
 *    row-keyed upsert ([[LayoutIngest.mergeRows]]). The INSERT must
 *    assign every payload column from source-only expressions and key
 *    on the ON condition's source key. The UPDATE may be PARTIAL
 *    (`SET value = s.value` — unassigned columns keep the target's
 *    current value) and may READ TARGET columns
 *    (`SET hits = t.hits + s.inc` — the accumulator shape), as may
 *    the MATCHED gate (`WHEN MATCHED AND t.v < 0`); those shapes join
 *    matched source rows to the target's current rows inside the
 *    command and synthesize the full replacement row, key-pushdown-
 *    pruned and bracketed by the [[LayoutIngest.ledgerStamp]]
 *    classification guard. The NOT-MATCHED gate stays source-only.
 *    When the UPDATE assigns every payload column source-only and
 *    agrees with the INSERT, the statement runs WHOLE-ROW with no
 *    target read: the SAME condition on both actions is an exact
 *    source pre-filter; a ONE-SIDED or per-side condition splits the
 *    source on target-key membership (one join against the target's
 *    distinct keys) and gates each side independently — still exact
 *    ([[GraftMergeCommand]]).
 *    A provably-empty DELETE/UPDATE condition (contradictory
 *    conjunction, no-op NOT BETWEEN) runs as a clean no-op — no
 *    rewrite, no ledger entry.
 *    Assignments to the computed cluster key are DISCARDED (the
 *    INSERT INTO convention — the key is recomputed from the grid).
 *    Runs under the next unused ledger id
 *    ([[LayoutIngest.mergeRowsNext]], safe next to txn streams).
 *  - `UPDATE t SET <payload> = <expr over the row> [WHERE <boxes>]` —
 *    the in-place REDACTION rewrite ([[LayoutIngest.update]]):
 *    the WHERE meets the same union-of-boxes contract as DELETE, the
 *    assignments target flat payload columns only (grid columns and
 *    the cluster key decide where a row LIVES — row moves stay a
 *    DELETE + INSERT or a whole-row MERGE), values are deterministic
 *    environment-free subquery-free expressions over the row's own
 *    pre-update columns. Only stats-intersecting units rewrite; one
 *    `upd-<id>` ledger entry per statement. A WHERE that is a string
 *    point shape (`<stringCol> = '...'` / `IN (...)`) routes to the
 *    KEYED update instead (a `Keys` target — redaction by doc id,
 *    bloom-pruned, `updk-<id>`, replayed on replicas); string
 *    prefix/range shapes to a `StrSpan` target (`dels`/`upds`), as
 *    for DELETE.
 */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(session => new GraftDmlRule(session))
    // table-valued metadata views — the DESCRIBE HISTORY / DESCRIBE
    // DETAIL equivalents, so operations tooling needs no library
    // imports: SELECT * FROM graft_history('/path/to/table')
    ext.injectTableFunction(GraftTvf.history)
    ext.injectTableFunction(GraftTvf.describe)
    // the ACTING statements in the TVF family: VACUUM and replica
    // sync as SQL
    ext.injectTableFunction(GraftTvf.vacuum)
    ext.injectTableFunction(GraftTvf.replicate)
    ext.injectTableFunction(GraftTvf.promote)
    // ad-hoc DATA reads without DDL: graft_table('<dir>'[, asOf]) /
    // graft_table_since('<dir>', b) resolve to the RELATION's plan, so
    // pushdown unit pruning and the provenance bounds work exactly as
    // through CREATE TEMP VIEW ... USING graft-layout
    ext.injectTableFunction(GraftTvf.table)
    ext.injectTableFunction(GraftTvf.tableSince)
    // the interval-overlap join operator (graft.plans.IntervalJoin.join)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoin.Strategy)
  }
}

/** Table-valued functions over the clustered table's METADATA (the
  * marker ledger and the unit listing) — resolved at analysis time
  * into the corresponding API frame's plan. The path argument must be
  * one string literal: the listing is driver-side metadata work (the
  * same cost the API call pays), done once during resolution. */
private[graft] object GraftTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.types.StringType

  private def one(name: String,
      f: (SparkSession, String) => org.apache.spark.sql.DataFrame) = (
    FunctionIdentifier(name),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, name),
    (args: Seq[Expression]) => {
      val dir = args match {
        case Seq(e) if e.foldable && e.dataType == StringType &&
            e.eval() != null => e.eval().toString
        case _ => throw new IllegalArgumentException(
          s"$name expects exactly one non-null string literal: the " +
            "table path")
      }
      ColumnBridge.analyzedPlan(f(SparkSession.active, dir))
    })

  /** `graft_history('<dir>')` — one row per committed ledger op
    * ([[LayoutIngest.history]]: kind, id, committed, at_ms). */
  val history = one("graft_history", LayoutIngest.history)

  /** `graft_describe('<dir>')` — one row per live unit
    * ([[LayoutIngest.describe]]: unit, files, rows, bytes + the
    * pruner's column ranges). */
  val describe = one("graft_describe", LayoutIngest.describe)

  /** `SELECT * FROM graft_replicate('<src>', '<dst>')` — ONE replica
    * sync ([[LayoutIngest.replicate]]: pull the committed batch
    * prefix, replay recorded DML statements), returning its
    * [[LayoutIngest.ReplicateStats]] as one row — the async-replica
    * cadence verb as SQL. Resolves to a RUNNABLE COMMAND
    * ([[GraftReplicateCommand]]), so the sync runs when the statement
    * EXECUTES — EXPLAIN, view expansion, and plan re-analysis never
    * act (the DML commands' discipline; both acting TVFs share it). */
  val replicate = (
    FunctionIdentifier("graft_replicate"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, "graft_replicate"),
    (args: Seq[Expression]) => args match {
      case Seq(Str(src), Str(dst)) =>
        GraftReplicateCommand(src, dst): LogicalPlan
      case _ => throw new IllegalArgumentException(
        "graft_replicate expects two string literals: " +
          "('<source dir>', '<replica dir>')")
    })

  /** `SELECT * FROM graft_vacuum('<dir>')` — the retention sweep
    * ([[LayoutIngest.vacuum]]) returning its
    * [[LayoutIngest.VacuumStats]] as one row: ops parity for the one
    * maintenance verb that was Scala-only. Resolves to a RUNNABLE
    * COMMAND ([[GraftVacuumCommand]]) — the sweep runs at statement
    * EXECUTION, never at analysis (EXPLAIN-ing it no longer sweeps;
    * both ops are idempotent either way, this is about surprise, not
    * corruption). */
  val vacuum = (
    FunctionIdentifier("graft_vacuum"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, "graft_vacuum"),
    (args: Seq[Expression]) => args match {
      case Seq(Str(dir)) => GraftVacuumCommand(dir): LogicalPlan
      case _ => throw new IllegalArgumentException(
        "graft_vacuum expects exactly one non-null string literal: " +
          "the table path")
    })

  /** `SELECT * FROM graft_promote('<dir>')` — promote a replica to a
    * writable table ([[LayoutIngest.promoteReplica]]: durable fence,
    * further syncs refuse, local writes mint above the mirrored
    * prefix); one row with the fenced watermark. Runnable command —
    * the fence lands at EXECUTION, like its acting siblings. */
  val promote = (
    FunctionIdentifier("graft_promote"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, "graft_promote"),
    (args: Seq[Expression]) => args match {
      case Seq(Str(dir)) => GraftPromoteCommand(dir): LogicalPlan
      case _ => throw new IllegalArgumentException(
        "graft_promote expects exactly one non-null string literal: " +
          "the replica path")
    })

  /** Extractor forms (bind once in match arms, no double-eval); the
    * integral case delegates to the ONE literal-to-Long reading
    * ([[DmlTranslate.litLong]] — shared with the DELETE translation). */
  private object Str {
    def unapply(e: Expression): Option[String] =
      if (e.foldable && e.dataType == StringType) {
        val v = e.eval()
        Option(v).map(_.toString)
      } else None
  }
  private object Lng {
    def unapply(e: Expression): Option[Long] = DmlTranslate.litLong(e)
  }

  private def relationPlan(dir: String, since: Option[Long],
      asOf: Option[Long]) = {
    val spark = SparkSession.active
    var r = spark.read.format("graft-layout").option("path", dir)
    since.foreach(b => r = r.option("sinceBatch", b.toString))
    asOf.foreach(b => r = r.option("asOfBatch", b.toString))
    ColumnBridge.analyzedPlan(r.load())
  }

  /** `graft_table('<dir>')` = the current state;
    * `graft_table('<dir>', b)` = the as-of-batch-b snapshot
    * ([[LayoutIngest.readAsOf]]'s view). Resolves to the
    * [[LayoutTableRelation]] plan — pushdown pruning intact. */
  val table = (
    FunctionIdentifier("graft_table"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, "graft_table"),
    (args: Seq[Expression]) => args match {
      case Seq(Str(d)) => relationPlan(d, None, None)
      case Seq(Str(d), Lng(b)) => relationPlan(d, None, Some(b))
      case _ => throw new IllegalArgumentException(
        "graft_table expects ('<table dir>') or ('<table dir>', " +
          "<asOfBatch integer literal>)")
    })

  /** `graft_table_since('<dir>', b)` — the CDC view, rows of batches
    * > b with `__batch` kept ([[LayoutIngest.readSince]]). */
  val tableSince = (
    FunctionIdentifier("graft_table_since"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      GraftTvf.getClass.getName, "graft_table_since"),
    (args: Seq[Expression]) => args match {
      case Seq(Str(d), Lng(b)) => relationPlan(d, Some(b), None)
      case _ => throw new IllegalArgumentException(
        "graft_table_since expects ('<table dir>', <afterBatch " +
          "integer literal>)")
    })
}

/** Unwraps the alias/view chain the analyzer leaves over a resolved
  * temp view down to the layout relation. */
private[graft] object LayoutTarget {
  def unapply(plan: LogicalPlan): Option[LayoutTableRelation] =
    plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case v: View => unapply(v.child)
      case lr: LogicalRelation => lr.relation match {
        case r: LayoutTableRelation => Some(r)
        case _ => None
      }
      case _ => None
    }
}

private[graft] class GraftDmlRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // `d.resolved` guard (mirroring the MERGE case): post-hoc rules
    // run before CheckAnalysis, so without it a typo'd column reaches
    // toBox as an UnresolvedAttribute and the user gets "not a
    // conjunction of ranges" instead of Spark's proper
    // UNRESOLVED_COLUMN error with suggestions
    case d @ DeleteFromTable(t @ LayoutTarget(rel), cond)
        if d.resolved =>
      refuseProvenance(rel, "DELETE")
      GraftDmlCommand(rel.tableDir, DmlTranslate.target(cond, t.outputSet),
        Nil)
    case m: MergeIntoTable => m.targetTable match {
      case t @ LayoutTarget(rel) if m.resolved =>
        refuseProvenance(rel, "MERGE INTO")
        DmlTranslate.toMergeCommand(m, t, rel)
      case _ => plan
    }
    // UPDATE = the in-place REDACTION rewrite
    // ([[LayoutIngest.update]]): payload assignments over the row's
    // own values, condition = the same [[DmlTranslate.target]]
    // classification as DELETE. Key/row-moving updates stay refused
    // (the whole-row upsert is the correction surface for those).
    case u @ UpdateTable(t @ LayoutTarget(rel), assigns, cond)
        if u.resolved =>
      refuseProvenance(rel, "UPDATE")
      DmlTranslate.toUpdateCommand(rel, t, assigns, cond)
    case _ => plan
  }

  private def refuseProvenance(rel: LayoutTableRelation,
      what: String): Unit =
    require(!rel.isProvenanceView,
      s"graft-layout $what: cannot write through a sinceBatch/" +
        "asOfBatch view — those are reads of history; load the table " +
        "without provenance options")
}

/** Statement → operator translation, EXACT or refused. */
private[graft] object DmlTranslate {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft-layout SQL DML: $msg")

  /** Foldable integral expression (a literal, possibly under the
    * coercion cast the analyzer inserts) → its long value. */
  private[sql] def litLong(e: Expression): Option[Long] = e match {
    case _ if !e.foldable => None
    case _ => e.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Option(e.eval()).map(_.asInstanceOf[Number].longValue())
      case _ => None
    }
  }

  /** Substitute every CommonExpressionRef in a `With` tree by its
    * definition — the pre-CSE form the box walk understands. */
  private def inlineWith(e: Expression): Expression = e match {
    case w: With =>
      val byId = w.defs.map(d => d.id -> inlineWith(d.child)).toMap
      inlineWith(w.child).transform {
        case r: CommonExpressionRef => byId.getOrElse(r.id, r)
      }
    case other => other
  }

  private def longAttr(e: Expression,
      target: AttributeSet): Option[String] = e match {
    case a: AttributeReference
      if target.contains(a) && a.dataType == LongType => Some(a.name)
    case _ => None
  }

  /** STRING-keyed DELETE detection: a condition that is entirely
    * point shapes over ONE string column — `c = 'v'`, `c IN (...)`,
    * and top-level ORs of those (the doc-id takedown statement) —
    * yields (column, keys) for a [[LayoutIngest.DmlTarget.Keys]]
    * target (bloom-pruned unit rewrite, recorded for replica
    * replay). Anything else returns None and falls to the long-box
    * translation. NULL literals drop out EXACTLY (SQL's
    * three-valued IN: `c IN (NULL, 'a')` deletes only c='a' rows —
    * the NULL element can never make the predicate TRUE); a list of
    * ONLY nulls deletes nothing (clean no-op at the command). */
  private def strKeyDelete(cond: Expression,
      target: AttributeSet): Option[(String, Seq[String])] = {
    def strAttr(e: Expression): Option[String] = e match {
      case a: AttributeReference
        if target.contains(a) && a.dataType == StringType => Some(a.name)
      // IN coercion can wrap the attribute in an identity cast
      case c: Cast if c.dataType == StringType => strAttr(c.child)
      case _ => None
    }
    // Some(keys-from-this-literal): empty for a NULL literal
    def litStr(e: Expression): Option[Seq[String]] =
      if (e.foldable && e.dataType == StringType)
        Some(Option(e.eval()).map(_.toString).toSeq)
      else None
    def disj(e: Expression): Seq[Expression] = e match {
      case Or(a, b) => disj(a) ++ disj(b)
      case other => Seq(other)
    }
    val parts = disj(cond).map {
      case EqualTo(a, v) if strAttr(a).isDefined && litStr(v).isDefined =>
        Some(strAttr(a).get -> litStr(v).get)
      case EqualTo(v, a) if strAttr(a).isDefined && litStr(v).isDefined =>
        Some(strAttr(a).get -> litStr(v).get)
      case In(a, vs) if strAttr(a).isDefined && vs.nonEmpty &&
          vs.forall(litStr(_).isDefined) =>
        Some(strAttr(a).get -> vs.flatMap(v => litStr(v).get))
      case _ => None
    }
    if (parts.exists(_.isEmpty)) None
    else {
      val cols = parts.flatten.map(_._1).distinct
      if (cols.size != 1) None
      else Some(cols.head -> parts.flatten.flatMap(_._2).distinct)
    }
  }

  /** STRING-RANGE detection — the DOMAIN TAKEDOWN statement
    * (`WHERE url LIKE 'https://spam.example/%'`, `WHERE s BETWEEN 'a'
    * AND 'b'`, `WHERE s >= 'a' AND s < 'b'`): a condition that is
    * entirely a CONJUNCTION over ONE string column of either exactly
    * one clean PREFIX pattern (`LIKE 'p%'` with no other wildcards,
    * or `startswith(s, 'p')`) or range comparisons (BETWEEN, the four
    * inequalities, `=` as a closed point) yields the column and the
    * [[LayoutIngest.StrShape]] of a [[LayoutIngest.DmlTarget.StrSpan]]
    * (stats-pruned unit rewrite in binary UTF-8 order, recorded for
    * replica replay). Checked AFTER [[strKeyDelete]] (pure point
    * shapes route keyed — bloom-pruned); anything else returns None
    * and falls to the long-box translation. Mixing a prefix with
    * range bounds, OR disjunctions of ranges, or a general pattern
    * (`'%x%'`, `'_x'`) all return None — refused downstream with the
    * API pointer, never silently narrowed. An empty combined range
    * (lo > hi) is legal: the command layer runs it as a clean no-op. */
  private def strRangeDelete(cond: Expression, target: AttributeSet)
      : Option[(String, LayoutIngest.StrShape)] = {
    def strAttr(e: Expression): Option[String] = e match {
      case a: AttributeReference
        if target.contains(a) && a.dataType == StringType => Some(a.name)
      case c: Cast if c.dataType == StringType => strAttr(c.child)
      case _ => None
    }
    def litStr1(e: Expression): Option[String] =
      if (e.foldable && e.dataType == StringType)
        Option(e.eval()).map(_.toString)
      else None
    def conj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conj(a) ++ conj(b)
      case r: RuntimeReplaceable => inlineWith(r.replacement) match {
        case a: And => conj(a)
        case other => Seq(other)
      }
      case other => Seq(other)
    }
    // one conjunct → (column, its bounds): lo/hi carry (value,
    // inclusive); a prefix is its own marker
    sealed trait B
    final case class Lo(v: String, inc: Boolean) extends B
    final case class Hi(v: String, inc: Boolean) extends B
    final case class Pfx(p: String) extends B
    def cleanPrefix(pat: String): Option[String] = {
      if (pat.isEmpty || pat.last != '%') None
      else {
        val p = pat.dropRight(1)
        if (p.exists(ch => ch == '%' || ch == '_' || ch == '\\')) None
        else Some(p)
      }
    }
    val parts: Seq[Option[(String, Seq[B])]] = conj(cond).map {
      case Like(a, v, esc) if strAttr(a).isDefined &&
          litStr1(v).isDefined && esc == '\\' =>
        cleanPrefix(litStr1(v).get)
          .map(p => strAttr(a).get -> Seq(Pfx(p)))
      case StartsWith(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Pfx(litStr1(v).get)))
      case GreaterThanOrEqual(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Lo(litStr1(v).get, true)))
      case GreaterThanOrEqual(v, a)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Hi(litStr1(v).get, true)))
      case GreaterThan(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Lo(litStr1(v).get, false)))
      case GreaterThan(v, a)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Hi(litStr1(v).get, false)))
      case LessThanOrEqual(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Hi(litStr1(v).get, true)))
      case LessThanOrEqual(v, a)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Lo(litStr1(v).get, true)))
      case LessThan(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Hi(litStr1(v).get, false)))
      case LessThan(v, a)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        Some(strAttr(a).get -> Seq(Lo(litStr1(v).get, false)))
      case EqualTo(a, v)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        val s = litStr1(v).get
        Some(strAttr(a).get -> Seq(Lo(s, true), Hi(s, true)))
      case EqualTo(v, a)
          if strAttr(a).isDefined && litStr1(v).isDefined =>
        val s = litStr1(v).get
        Some(strAttr(a).get -> Seq(Lo(s, true), Hi(s, true)))
      case _ => None
    }
    if (parts.exists(_.isEmpty)) return None
    val flat = parts.flatten
    val cols = flat.map(_._1).distinct
    if (cols.size != 1) return None
    val bounds = flat.flatMap(_._2)
    val pfxs = bounds.collect { case Pfx(p) => p }.distinct
    if (pfxs.nonEmpty) {
      // a prefix stands alone (mixing it with bounds would need the
      // not-well-defined-on-UTF-8 next-prefix intersection — refuse
      // to the API instead of approximating)
      if (pfxs.size == 1 && bounds.forall(_.isInstanceOf[Pfx]))
        Some(cols.head -> LayoutIngest.StrPrefix(pfxs.head))
      else None
    } else {
      def cmp(a: String, b: String): Int = {
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
      // strictest bound wins; at an equal value, exclusive is stricter
      val lo = bounds.collect { case l: Lo => l }
        .reduceOption((a, b) => cmp(a.v, b.v) match {
          case c if c > 0 => a
          case c if c < 0 => b
          case _ => Lo(a.v, a.inc && b.inc)
        })
      val hi = bounds.collect { case h: Hi => h }
        .reduceOption((a, b) => cmp(a.v, b.v) match {
          case c if c < 0 => a
          case c if c > 0 => b
          case _ => Hi(a.v, a.inc && b.inc)
        })
      if (lo.isEmpty && hi.isEmpty) None
      else Some(cols.head -> LayoutIngest.StrRange(
        lo.map(_.v), lo.forall(_.inc), hi.map(_.v), hi.forall(_.inc)))
    }
  }

  /** LONG IN-list cutover: a DELETE/UPDATE whose WHOLE condition is
    * one `longCol IN (...)` with MORE than this many distinct values
    * routes to the KEYED path (`delk`/`updk` — per-unit bloom probes,
    * O(hit units)) instead of N point boxes (N × units driver-side
    * box checks — the r19 NOTES' known margin). Small lists stay
    * box-routed: exact either way, and the box form is the history
    * kind existing premises count on. */
  private[sql] val LongInKeyedMin = 64

  private def longInAttr(e: Expression,
      target: AttributeSet): Option[String] = e match {
    // IN coercion casts BOTH sides; a long→long cast is identity
    case c: Cast if c.dataType == LongType => longAttr(c.child, target)
    case other => longAttr(other, target)
  }

  /** The long IN-list shapes [[LongInKeyedMin]] governs: the whole
    * condition is a single `IN` over one long column, all-literal,
    * above the cutover. NULL literals drop exactly (three-valued IN). */
  private def longKeyDelete(cond: Expression, target: AttributeSet)
      : Option[(String, Seq[Long])] = cond match {
    case In(a, vs) if vs.nonEmpty &&
        vs.forall(v => litLong(v).isDefined ||
          (v.foldable && Option(v.eval()).isEmpty)) =>
      longInAttr(a, target).flatMap { c =>
        val keys = vs.flatMap(litLong).distinct
        if (keys.size > LongInKeyedMin) Some(c -> keys) else None
      }
    case _ => None
  }

  /** DELETE/UPDATE condition → the [[LayoutIngest.DmlTarget]] it
    * selects, EXACT or refused. Classified in this order: string point
    * shapes → [[LayoutIngest.DmlTarget.Keys]] (the doc-id takedown,
    * bloom-pruned); string prefix/range conjunctions →
    * [[LayoutIngest.DmlTarget.StrSpan]] (the domain takedown); one
    * long `IN` list above [[LongInKeyedMin]] → `Keys` (bloom probes
    * beat N point boxes); everything else → the long-box translation
    * [[toBoxes]] (refusing what it cannot express). */
  def target(cond: Expression, output: AttributeSet)
      : LayoutIngest.DmlTarget = {
    import LayoutIngest.DmlTarget._
    strKeyDelete(cond, output).map { case (c, ks) => Keys(c, ks) }
      .orElse(strRangeDelete(cond, output)
        .map { case (c, shape) => StrSpan(c, shape) })
      .orElse(longKeyDelete(cond, output).map { case (c, ks) => Keys(c, ks) })
      .getOrElse(Boxes(toBoxes(cond, output)))
  }

  /** DELETE condition → the EXACT union of conjunctive boxes, or
    * refuse: the condition splits on its TOP-LEVEL ORs and each
    * disjunct goes through [[toBox]]. A disjunct that is
    * `col IN (literals)` — the canonical forget-these-ids statement —
    * expands to one point box per value. Identical disjuncts collapse
    * (`x = 1 OR x = 1` is one box); overlap needs no special casing —
    * the union executes as a single OR predicate in ONE
    * [[LayoutIngest.delete]] pass, so a doubly-covered row is
    * simply deleted once and history records one delete. */
  def toBoxes(cond: Expression,
      target: AttributeSet): Seq[Seq[(String, Long, Long)]] = {
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(a, b) => disjuncts(a) ++ disjuncts(b)
      // BETWEEN-style sugar can wrap an OR (e.g. a future NOT BETWEEN
      // rewrite); inline before testing so a top-level replaceable OR
      // still splits
      case r: RuntimeReplaceable => inlineWith(r.replacement) match {
        case o: Or => disjuncts(o)
        case _ => Seq(e) // not an OR — let toBox translate the sugar
      }
      case other => Seq(other)
    }
    // IN coercion casts BOTH sides to the common type (unlike binary
    // comparisons, which cast only the literal) — a long→long cast on
    // the attribute is identity, unwrap it
    def inAttr(e: Expression): Option[String] = e match {
      case c: Cast if c.dataType == LongType => longAttr(c.child, target)
      case other => longAttr(other, target)
    }
    // the COMPLEMENT of k points on a long column = up to k+1 closed
    // intervals (empties at the domain edges drop out) — exact under
    // three-valued logic too: a NULL column value fails every interval
    // here exactly as `a != v` / `a NOT IN (...)` evaluates to NULL
    // (row kept) in SQL
    def complement(c: String, points: Seq[Long])
        : Seq[Seq[(String, Long, Long)]] = {
      val ps = points.distinct.sorted
      val iv = scala.collection.mutable.Buffer.empty[(Long, Long)]
      var lo = Long.MinValue
      ps.foreach { p =>
        // [lo, p-1] — empty when p is the domain minimum (no left
        // side) or consecutive with the previous point
        if (p != Long.MinValue && lo <= p - 1) iv += ((lo, p - 1))
        if (p != Long.MaxValue) lo = p + 1
      }
      if (ps.last != Long.MaxValue) iv += ((lo, Long.MaxValue))
      iv.toSeq.map { case (l, h) => Seq((c, l, h)) }
    }
    def expand(d: Expression): Seq[Seq[(String, Long, Long)]] = d match {
      // IN only as a WHOLE disjunct: inside a conjunction it would
      // need the cross-product distribution (a IN (1,2) AND b = 3 →
      // two boxes), which the conjunctive walk deliberately refuses
      case In(a, vs) if inAttr(a).isDefined && vs.nonEmpty &&
          vs.forall(litLong(_).isDefined) =>
        val c = inAttr(a).get
        vs.flatMap(litLong).map(v => Seq((c, v, v)))
      // negated point shapes — the retention statements: `a != v`,
      // `a NOT IN (...)` (all-literal, NULL-free list: a NULL element
      // makes SQL's NOT IN delete nothing, refused rather than
      // silently honored), `a NOT BETWEEN lo AND hi`
      case Not(EqualTo(a, v)) if inAttr(a).isDefined &&
          litLong(v).isDefined =>
        complement(inAttr(a).get, Seq(litLong(v).get))
      case Not(EqualTo(v, a)) if inAttr(a).isDefined &&
          litLong(v).isDefined =>
        complement(inAttr(a).get, Seq(litLong(v).get))
      case Not(In(a, vs)) if inAttr(a).isDefined && vs.nonEmpty &&
          vs.forall(litLong(_).isDefined) =>
        complement(inAttr(a).get, vs.flatMap(litLong))
      case Not(r: RuntimeReplaceable) =>
        // NOT BETWEEN arrives as Not over the replaceable; its inlined
        // replacement is `a >= lo AND a <= hi` — De Morgan by hand for
        // exactly that one-column shape, refuse anything else
        inlineWith(r.replacement) match {
          case And(GreaterThanOrEqual(a1, lo), LessThanOrEqual(a2, hi))
            if longAttr(a1, target).isDefined &&
              longAttr(a1, target) == longAttr(a2, target) &&
              litLong(lo).isDefined && litLong(hi).isDefined =>
            val c = longAttr(a1, target).get
            val (l, h) = (litLong(lo).get, litLong(hi).get)
            if (l > h) Seq(Seq((c, Long.MinValue, Long.MaxValue)))
            else Seq(
              if (l == Long.MinValue) Nil
              else Seq(Seq((c, Long.MinValue, l - 1))),
              if (h == Long.MaxValue) Nil
              else Seq(Seq((c, h + 1, Long.MaxValue))))
              .flatten
          case _ => Seq(toBox(d, target)) // refuses with the pointer
        }
      case other => Seq(toBox(other, target))
    }
    // provably-empty boxes drop out EXACTLY: an inverted range
    // (lo > hi, e.g. the contradictory `a = 1 AND a = 2`) matches no
    // row on the long domain, and a no-op shape whose complement
    // decomposition yields nothing (`a NOT BETWEEN MinValue AND
    // MaxValue`) produces zero disjuncts. The command layer runs an
    // empty union as a DELETE/UPDATE of NOTHING — no unit rewrite, no
    // minted id, no ledger entry — rather than an internal error or a
    // burned permanent marker for a statement that touches no rows.
    disjuncts(cond).flatMap(expand).distinct
      .filter(_.forall { case (_, lo, hi) => lo <= hi })
  }

  /** DELETE condition → the EXACT conjunctive box, or refuse. Open
    * bounds close by ±1 (long columns — integral, so exact); multiple
    * conjuncts on one column intersect. `true` (no WHERE) deletes
    * everything via a full-domain box on the never-null cluster key. */
  def toBox(cond: Expression,
      target: AttributeSet): Seq[(String, Long, Long)] = {
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    def tighten(c: String, l: Long, h: Long): Unit = {
      lo(c) = math.max(lo.getOrElse(c, Long.MinValue), l)
      hi(c) = math.min(hi.getOrElse(c, Long.MaxValue), h)
    }
    def walk(e: Expression): Unit = e match {
      case And(a, b) => walk(a); walk(b)
      case EqualTo(a, v) if bind(a, v, e, (c, l) => tighten(c, l, l)) =>
      case EqualTo(v, a) if bind(a, v, e, (c, l) => tighten(c, l, l)) =>
      case GreaterThanOrEqual(a, v)
        if bind(a, v, e, (c, l) => tighten(c, l, Long.MaxValue)) =>
      case GreaterThanOrEqual(v, a)
        if bind(a, v, e, (c, l) => tighten(c, Long.MinValue, l)) =>
      case LessThanOrEqual(a, v)
        if bind(a, v, e, (c, l) => tighten(c, Long.MinValue, l)) =>
      case LessThanOrEqual(v, a)
        if bind(a, v, e, (c, l) => tighten(c, l, Long.MaxValue)) =>
      case GreaterThan(a, v) if bind(a, v, e, (c, l) =>
        tighten(c, if (l == Long.MaxValue) err(emptyGt(e)) else l + 1,
          Long.MaxValue)) =>
      case GreaterThan(v, a) if bind(a, v, e, (c, l) =>
        tighten(c, Long.MinValue,
          if (l == Long.MinValue) err(emptyGt(e)) else l - 1)) =>
      case LessThan(a, v) if bind(a, v, e, (c, l) =>
        tighten(c, Long.MinValue,
          if (l == Long.MinValue) err(emptyGt(e)) else l - 1)) =>
      case LessThan(v, a) if bind(a, v, e, (c, l) =>
        tighten(c, if (l == Long.MaxValue) err(emptyGt(e)) else l + 1,
          Long.MaxValue)) =>
      case Literal(true, _) => // no WHERE — full-table delete
        tighten(LayoutIngest.KeyCol, Long.MinValue, Long.MaxValue)
      // analyzed plans keep sugar (BETWEEN, ...) as RuntimeReplaceable
      // nodes until the optimizer; their replacement IS the semantics.
      // A replacement may be a `With` (common-subexpression form:
      // Between's is `with(ref >= lo AND ref <= hi, def(input))`) —
      // inline the refs before walking.
      case r: RuntimeReplaceable => walk(inlineWith(r.replacement))
      case other => err(
        s"DELETE condition '${other.sql}' is not a conjunction of " +
          "=/</<=/>/>=/BETWEEN ranges over LONG columns and integral " +
          "literals — the exact box-delete contract (OR and IN are " +
          "supported only at the TOP level, between/as whole " +
          "disjuncts; string =/IN point shapes route to the keyed " +
          "delete, and string LIKE-'p%'/BETWEEN/inequality " +
          "conjunctions to the string-range delete, when the WHOLE " +
          "condition is over one string column). Anything else " +
          "(nested OR, IN inside a conjunction, general LIKE " +
          "patterns, string negations, expressions over columns) " +
          "needs the API: LayoutIngest.delete over a DmlTarget " +
          "(Boxes / Keys / StrSpan), or mergeRows.")
    }
    // bind returns false (falls through to `other`) unless BOTH sides
    // fit the attr-vs-literal shape — a guard, not an action
    def bind(a: Expression, v: Expression, whole: Expression,
        f: (String, Long) => Unit): Boolean =
      (longAttr(a, target), litLong(v)) match {
        case (Some(c), Some(l)) => f(c, l); true
        case _ => false
      }
    def emptyGt(e: Expression): String =
      s"range '${e.sql}' is empty at the long domain edge"
    walk(cond)
    (lo.keySet ++ hi.keySet).toSeq.sorted.map { c =>
      (c, lo.getOrElse(c, Long.MinValue), hi.getOrElse(c, Long.MaxValue))
    }
  }

  /** Resolved UPDATE → [[GraftDmlCommand]], or refuse: the
    * condition classifies exactly like DELETE's ([[target]]; no WHERE
    * updates every row), the column a key or string-span target
    * selects by is not assignable,
    * every assignment target must be a flat PAYLOAD column (the grid
    * columns and the cluster key decide where a row LIVES — changing
    * them in place would strand the row under a stale key, so row
    * moves stay a delete + insert or a whole-row MERGE), and every
    * assigned value must be a deterministic, subquery-free expression
    * over the row's own columns. */
  def toUpdateCommand(rel: LayoutTableRelation, target: LogicalPlan,
      assigns: Seq[Assignment], cond: Option[Expression])
      : LogicalPlan = {
    val sets = validateUpdateAssigns(rel, target, assigns)
    val t = this.target(cond.getOrElse(Literal(true)), target.outputSet)
    t.selectCol.filter(c => sets.exists(_._1 == c)).foreach(c => err(
      s"UPDATE assigns the column '$c' it selects by — rewriting row " +
        "identity (what the predicate means on replay) in place is " +
        "not an update; use MERGE INTO or DELETE + INSERT"))
    GraftDmlCommand(rel.tableDir, t, sets)
  }

  /** The UPDATE assignment contract shared by the box and keyed
    * forms: flat PAYLOAD columns only (grid columns and the cluster
    * key decide where a row LIVES), deterministic environment-free
    * subquery-free expressions over the row's own columns. */
  private def validateUpdateAssigns(rel: LayoutTableRelation,
      target: LogicalPlan, assigns: Seq[Assignment])
      : Seq[(String, Expression)] = {
    val grid = LayoutIngest.readGrid(SparkSession.active, rel.tableDir)
    val reserved =
      (grid.cols :+ LayoutIngest.KeyCol :+ LayoutIngest.BatchCol).toSet
    val sets = assigns.map {
      case Assignment(k: AttributeReference, v) =>
        if (reserved(k.name)) err(
          s"UPDATE assigns '${k.name}' — a cluster/provenance column " +
            "decides where the row lives and is not assignable in " +
            "place; move rows with DELETE + INSERT, MERGE INTO, or " +
            "regrid")
        // nondeterminism AND environment-bound values (rand(), uuid(),
        // current_timestamp(), current_user()): the assignment is
        // recorded as SQL and re-evaluated per unit rewrite and at
        // replica replay — it must be a pure function of the row
        // ([[LayoutIngest.environmentBound]]; LayoutIngest.update
        // enforces the same gate for API callers)
        LayoutIngest.environmentBound(v).foreach(bad => err(
          s"UPDATE assignment to '${k.name}' reads the evaluation " +
            s"environment ($bad) — a WAL replay and a replica sync " +
            "must rewrite the same bytes; evaluate it once and " +
            "assign the resulting literal"))
        if (v.exists(_.isInstanceOf[SubqueryExpression])) err(
          s"UPDATE assignment to '${k.name}' contains a subquery — " +
            "only expressions over the row's own columns; join through " +
            "MERGE INTO instead")
        require(v.references.subsetOf(target.outputSet),
          s"graft-layout UPDATE: assignment to '${k.name}' references " +
            s"columns outside the target row (${v.sql})")
        k.name -> v
      case Assignment(k, _) => err(
        s"UPDATE assigns a non-column target '${k.sql}' — only flat " +
          "payload columns are assignable")
    }
    sets
  }

  /** Resolved MergeIntoTable → [[GraftMergeCommand]], or refuse. */
  def toMergeCommand(m: MergeIntoTable, target: LogicalPlan,
      rel: LayoutTableRelation): LogicalPlan = {
    require(!m.withSchemaEvolution,
      "graft-layout MERGE: WITH SCHEMA EVOLUTION is not supported — " +
        "schema evolution happens additively at ingest")
    val sourceOut = m.sourceTable.outputSet
    // the ON condition names the key: t.k = s.k, either order
    val (keyCol, srcKey) = m.mergeCondition match {
      case EqualTo(t: AttributeReference, s: AttributeReference)
        if target.outputSet.contains(t) && sourceOut.contains(s) =>
        (t.name, s)
      case EqualTo(s: AttributeReference, t: AttributeReference)
        if target.outputSet.contains(t) && sourceOut.contains(s) =>
        (t.name, s)
      case other => err(
        s"MERGE condition '${other.sql}' must be a single equality " +
          "between one target column and one source column (the " +
          "mergeRows key)")
    }
    // refuse a COMPUTED-column key UP FRONT (before any command is
    // built): keying on zkey would pass every shape check here and
    // then die inside mergeRows AFTER its intent marker is created —
    // a permanently uncommitted intent in the ledger for a statement
    // that never could have run (the key must identify rows the way
    // the user wrote them; the cluster key is derived state)
    if (keyCol == LayoutIngest.KeyCol) err(
      s"the merge key cannot be the computed cluster key " +
        s"'${LayoutIngest.KeyCol}' — it is derived from the grid, not " +
        "row identity; key the MERGE on a payload column")
    val (matchedCond, uas) = m.matchedActions match {
      case Seq(UpdateAction(c, as, _)) => (c, as)
      case other => err(
        s"WHEN MATCHED must be exactly one UPDATE " +
          s"(got ${other.map(_.getClass.getSimpleName).mkString(", ")})" +
          " — for MATCHED DELETE use LayoutIngest.delete")
    }
    val (insertCond, ias) = m.notMatchedActions match {
      case Seq(InsertAction(c, as)) => (c, as)
      case other => err(
        s"WHEN NOT MATCHED must be exactly one INSERT " +
          s"(got ${other.map(_.getClass.getSimpleName).mkString(", ")})")
    }
    // WHEN NOT MATCHED BY SOURCE [AND gate] THEN DELETE — the
    // full-sync dimension statement: target rows absent from the
    // source delete inside the SAME merge rewrite (one atomic
    // statement, recorded + replica-replayed from the updates
    // snapshot; [[LayoutIngest.mergeRows]] `dropUnmatched`). The gate
    // is a target-row predicate: deterministic, environment-free,
    // subquery-free — it is recorded as SQL and re-evaluated per unit
    // rewrite and at replay. UPDATE-by-absence stays refused (an
    // unmatched update is a box/range UPDATE, not a merge side).
    val unmatchedDel: Option[Option[Expression]] =
      m.notMatchedBySourceActions match {
        case Seq() => None
        case Seq(DeleteAction(c)) =>
          c.foreach { cc =>
            if (cc.exists(_.isInstanceOf[SubqueryExpression])) err(
              s"NOT MATCHED BY SOURCE gate '${cc.sql}' contains a " +
                "subquery — gate on the target row's own columns")
            require(cc.references.subsetOf(target.outputSet),
              s"graft-layout MERGE: NOT MATCHED BY SOURCE gate " +
                s"'${cc.sql}' references source columns — a " +
                "not-matched-by-source row has no source row to read")
          }
          Some(c)
        case other => err(
          s"WHEN NOT MATCHED BY SOURCE must be exactly one DELETE " +
            s"(got ${other.map(_.getClass.getSimpleName).mkString(", ")})" +
            " — update-by-absence is a box/range UPDATE, not a merge " +
            "side")
      }
    // gates: subqueries refused on both sides (they would re-plan
    // outside their statement inside the command's DataFrame filters);
    // the NOT-MATCHED gate must be source-only (an unmatched row HAS
    // no target row to read); the MATCHED gate MAY read target columns
    // ("update only if the current value ...") — that routes through
    // the partial/join path below, where the matched side carries the
    // target row.
    (matchedCond.toSeq ++ insertCond.toSeq).foreach { c =>
      if (c.exists(_.isInstanceOf[SubqueryExpression])) err(
        s"conditional MERGE gate '${c.sql}' contains a subquery — " +
          "gate on the statement's own columns, or pre-filter the " +
          "source by hand")
    }
    insertCond.foreach { c =>
      require(c.references.subsetOf(sourceOut),
        s"graft-layout MERGE: WHEN NOT MATCHED AND condition " +
          s"'${c.sql}' references target columns — an unmatched row " +
          "has no target row to read; gate on source columns only")
    }
    def toMap(as: Seq[Assignment], which: String,
        allowTarget: Boolean): Map[String, Expression] =
      as.map {
        case Assignment(k: AttributeReference, v) =>
          if (!allowTarget) require(v.references.subsetOf(sourceOut),
            s"graft-layout MERGE: $which assignment to '${k.name}' " +
              s"references target columns (${v.sql}) — an inserted " +
              "row has no target row to read")
          if (v.exists(_.isInstanceOf[SubqueryExpression])) err(
            s"$which assignment to '${k.name}' contains a subquery — " +
              "only expressions over the statement's own columns")
          k.name -> v
        case Assignment(k, _) => err(
          s"$which assigns a non-column target '${k.sql}' — only " +
            "flat payload columns are assignable")
      }.toMap
    // UPDATE SET may read target columns (SET v = t.v + s.inc — the
    // accumulator shape): the command joins matched source rows to the
    // target's CURRENT rows, and mergeRows snapshots the evaluated
    // frame before recording, so replays and replicas see the pinned
    // values, never a re-evaluation
    val u = toMap(uas, "UPDATE", allowTarget = true)
    val i = toMap(ias, "INSERT", allowTarget = false)
    // the INSERT must key on the ON condition's source key; an UPDATE
    // key assignment, if present, must agree (key rewrites aren't
    // upserts)
    i.get(keyCol) match {
      case Some(v) if v.semanticEquals(srcKey) => ()
      case Some(v) => err(
        s"INSERT assigns key '$keyCol' from '${v.sql}', but the ON " +
          s"condition keys on '${srcKey.sql}' — a merged row cannot " +
          "land under a different key than it matched on")
      case None => err(
        s"INSERT must assign the merge key '$keyCol' (from the ON " +
          "condition's source column)")
    }
    u.get(keyCol).foreach { v =>
      require(v.semanticEquals(srcKey),
        s"graft-layout MERGE: UPDATE reassigns the merge key " +
          s"'$keyCol' to '${v.sql}' — key rewrites are not upserts; " +
          "delete + insert instead")
    }
    // the INSERT side must still assign every payload column (an
    // inserted row has no old values to keep); assignments to the
    // computed cluster key are discarded (the INSERT INTO convention)
    val payload = rel.schema.fieldNames.toSeq
      .filterNot(c => c == LayoutIngest.KeyCol || c == keyCol)
    payload.foreach { c =>
      if (!i.contains(c)) err(
        s"INSERT must assign every payload column (missing '$c')")
    }
    // TWO execution shapes. WHOLE-ROW (the fast path, no target read):
    // the UPDATE assigns every payload column, source-only, agreeing
    // with the INSERT, and the MATCHED gate (if any) is source-only —
    // one updates row per key serves both sides; a symmetric gate runs
    // as a plain source pre-filter, one-sided gates split on
    // target-key membership. PARTIAL (everything else — a partial SET
    // keeping unassigned target values, a target-reading assignment,
    // sides that disagree, a target-reading MATCHED gate): the command
    // joins matched source rows to the target's current rows and
    // synthesizes the full replacement row (`matchedSets`), bracketed
    // by the ledgerStamp classification guard.
    val mcSourceOnly =
      matchedCond.forall(_.references.subsetOf(sourceOut))
    val wholeRow = mcSourceOnly &&
      u.values.forall(_.references.subsetOf(sourceOut)) &&
      payload.forall(c => u.get(c).exists(uv =>
        i.get(c).exists(uv.semanticEquals)))
    val insertCols =
      (keyCol -> (srcKey: Expression)) +: payload.map(c => c -> i(c))
    if (wholeRow) {
      val (preFilter, sideGate) = (matchedCond, insertCond) match {
        case (None, None) => (None, None)
        case (Some(a), Some(b)) if a.semanticEquals(b) => (Some(a), None)
        case (mc, ic) => (None, Some((mc, ic)))
      }
      val src = preFilter.map(Filter(_, m.sourceTable))
        .getOrElse(m.sourceTable)
      GraftMergeCommand(rel.tableDir, keyCol, src, insertCols, sideGate,
        unmatchedDelete = unmatchedDel)
    } else {
      // target attribute references (in assignments and the matched
      // gate) re-bind BY NAME against the command's re-read of the
      // target, renamed under the reserved __graft_t_ prefix — the
      // statement's own relation instance does not survive into run()
      def retag(e: Expression): Expression = e.transform {
        case a: AttributeReference if target.outputSet.contains(a) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(s"__graft_t_${a.name}")
      }
      val matchedSets = (u - keyCol - LayoutIngest.KeyCol).toSeq
        .map { case (c, e) => c -> retag(e) }
      GraftMergeCommand(rel.tableDir, keyCol, m.sourceTable, insertCols,
        sideGate =
          if (matchedCond.isEmpty && insertCond.isEmpty) None
          else Some((matchedCond.map(retag), insertCond)),
        matchedSets = Some(matchedSets),
        unmatchedDelete = unmatchedDel)
    }
  }
}

/** `SELECT * FROM graft_vacuum('<dir>')`'s body — the retention sweep
  * as a leaf command, executed when the statement RUNS (the analysis
  * step only resolves the TVF to this node). One row:
  * [[LayoutIngest.VacuumStats]]. */
private[graft] case class GraftVacuumCommand(dir: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq("manifests_replayed",
      "gen_stages_dropped", "ingest_stages_dropped",
      "empty_units_dropped", "dml_markers_folded")
    .map(n => AttributeReference(n, IntegerType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val st = LayoutIngest.vacuum(sparkSession, dir)
    Seq(Row(st.manifestsReplayed, st.genStagesDropped,
      st.ingestStagesDropped, st.emptyUnitsDropped,
      st.dmlMarkersFolded))
  }
}

/** `SELECT * FROM graft_promote('<dir>')`'s body — the replica
  * promotion fence as a leaf command, executed when the statement
  * RUNS. One row: the watermark the fence landed at. */
private[graft] case class GraftPromoteCommand(dir: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("fenced_watermark", LongType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] =
    Seq(Row(LayoutIngest.promoteReplica(sparkSession, dir)))
}

/** `SELECT * FROM graft_replicate('<src>', '<dst>')`'s body — one
  * replica sync as a leaf command, executed when the statement RUNS.
  * One row: [[LayoutIngest.ReplicateStats]]. */
private[graft] case class GraftReplicateCommand(srcDir: String,
    dstDir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq("batches_pulled",
      "dml_replayed", "dml_skipped_as_bootstrap", "merges_replayed")
    .map(n => AttributeReference(n, IntegerType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    val st = LayoutIngest.replicate(sparkSession, srcDir, dstDir)
    Seq(Row(st.batchesPulled, st.dmlReplayed,
      st.dmlSkippedAsBootstrap, st.mergesReplayed))
  }
}

/** `DELETE FROM` / `UPDATE` on a layout view — runs
  * [[LayoutIngest.dmlNext]] over the [[DmlTranslate.target]] the
  * condition classified to (ONE WAL-manifested pruned rewrite under
  * the next unused id of the target's kind; `sets` empty = DELETE).
  * Assignment expressions re-bind to the rewrite frames BY NAME (the
  * analyzed attrs belong to the statement's own relation instance).
  * A target that provably matches nothing (every box empty, `IN
  * (NULL)`, an inverted string range) is a clean no-op: no rewrite,
  * no id minted, no ledger entry. */
private[graft] case class GraftDmlCommand(dir: String,
    target: LayoutIngest.DmlTarget, sets: Seq[(String, Expression)])
  extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = {
    if (!target.isEmpty) {
      val cols = sets.map { case (n, e) =>
        n -> ColumnBridge.of(e.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              .quoted(a.name)
        })
      }
      LayoutIngest.dmlNext(sparkSession, dir, target, cols): Unit
    }
    Seq.empty
  }
}

/** `MERGE INTO <layout view>` — projects the resolved source through
  * the validated assignments and runs [[LayoutIngest.mergeRowsNext]]
  * (bloom/stats-pruned whole-row upsert under the next unused ledger
  * id). The source plan rides inside the command (already analyzed);
  * `innerChildren` surfaces it in EXPLAIN.
  *
  * `sideGate` carries ONE-SIDED / per-side action conditions
  * `(matchedCond, insertCond)`: the source splits on target-key
  * membership via one left-outer join against the target's DISTINCT
  * keys (shuffle-joined on the merge key — broadcast when small under
  * AQE; never a scan of target payload columns), each side keeps only
  * rows passing its own gate (an absent gate keeps the side whole),
  * and the union upserts. Exact by construction: a matched row
  * failing the MATCHED gate is dropped — the target row stays; an
  * unmatched row failing the NOT-MATCHED gate is dropped — nothing
  * inserts. NULL source keys never match (SQL ON semantics) and land
  * on the insert side.
  *
  * `matchedSets` switches to the PARTIAL path (partial `UPDATE SET`,
  * target-reading assignments, sides that disagree, a target-reading
  * matched gate): matched source rows join the target's CURRENT rows
  * — renamed `__graft_t_*`; target refs in the statement were
  * re-tagged to those names at translation — and each payload column
  * takes its assignment if present, else the target's value; the
  * unmatched side inserts through `cols` as usual, and the union runs
  * [[LayoutIngest.mergeRows]]. The target read pushes the source's
  * key set as an IN filter when probe-sized, so the relation's
  * bloom/stats pushdown prunes the scan to the hit units (exact for
  * this statement's questions: a source key is in the pruned target
  * iff it is in the target). mergeRows snapshots the synthesized
  * frame before recording, so replays and replicas see the pinned
  * values — a target-reading assignment replays exactly.
  *
  * SERIALIZABLE under concurrency: the membership read and the merge
  * commit are bracketed by [[LayoutIngest.ledgerStamp]] — the stamp
  * observed BEFORE the classification join rides into
  * [[LayoutIngest.mergeRows]] (`classifiedAt`), which re-reads it at
  * the claim instant under both locks and throws
  * [[LayoutIngest.StaleClassificationException]] if ANY write (batch,
  * delete, another merge) committed in between; this command then
  * REDOES the classification against the new state and retries —
  * bounded, since every retry means another writer committed. Without
  * the guard a concurrent writer committing the same keys between the
  * membership join and the commit could mis-gate rows (a row
  * classified unmatched bypassing the WHEN MATCHED AND condition it
  * should have been subject to). */
private[graft] case class GraftMergeCommand(dir: String, keyCol: String,
    source: LogicalPlan, cols: Seq[(String, Expression)],
    sideGate: Option[(Option[Expression], Option[Expression])] = None,
    matchedSets: Option[Seq[(String, Expression)]] = None,
    unmatchedDelete: Option[Option[Expression]] = None)
  extends LeafRunnableCommand {

  /** `WHEN NOT MATCHED BY SOURCE THEN DELETE` as the
    * [[LayoutIngest.mergeRows]] flag: the gate (a target-row
    * predicate) re-binds BY NAME against the rewrite frames, like the
    * box UPDATE assignments. */
  private def dropUnmatched: Option[LayoutIngest.UnmatchedDelete] =
    unmatchedDelete.map(g => LayoutIngest.UnmatchedDelete(
      g.map(e => ColumnBridge.of(e.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(a.name)
      }))))

  /** Above this many distinct source keys the partial path's target
    * read stops pushing an IN-set filter (the bloom/stats pruning
    * lever) and scans the table — still correct; a merge that large is
    * near the [[LayoutIngest]] MaxMergeKeys refusal anyway. */
  private val KeyPushdownMax = 1 << 16

  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(sparkSession: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val base = ColumnBridge.ofRows(sparkSession, source)
    def updatesOf(src: org.apache.spark.sql.DataFrame) = src.select(
      cols.map { case (n, e) => ColumnBridge.of(e).as(n) }: _*)
    if (sideGate.isEmpty && matchedSets.isEmpty) {
      // whole-row, unconditional: one updates row per key, no target
      // read, no classification to guard (a NOT-MATCHED-BY-SOURCE
      // delete needs none either — membership is decided per row
      // against the pinned snapshot inside the rewrite)
      LayoutIngest.mergeRowsNext(sparkSession, dir, keyCol,
        updatesOf(base), dropUnmatched = dropUnmatched): Unit
      return Seq.empty
    }
    require(!base.columns.exists(_.startsWith("__graft")),
      "graft-layout MERGE: source carries a __graft-prefixed column — " +
        "that prefix is reserved for the command's internal join names")
    val (mc, ic) = sideGate.getOrElse((None, None))
    var attempts = 0
    var committed = false
    while (!committed) {
      // stamp FIRST, classify after: a write committing between the
      // two is caught by the claim-time re-read (the stamp it sees
      // differs), never silently raced past
      val stamp = LayoutIngest.ledgerStamp(sparkSession, dir)
      val tgtAll = sparkSession.read.format("graft-layout")
        .option("path", dir).load()
      val updates = matchedSets match {
        case None =>
          // whole-row with one-sided/per-side gates: split the source
          // on target-key membership (one join against the DISTINCT
          // keys — never a scan of target payload), gate each side
          val tk = "__graft_target_key"
          val tgtKeys = tgtAll.select(col(keyCol).as(tk)).distinct()
          val joined = base.join(tgtKeys,
            ColumnBridge.of(cols.head._2) === col(tk), "left_outer")
          val matched = col(tk).isNotNull
          def gate(c: Option[Expression]) = c.map(ColumnBridge.of)
            .getOrElse(org.apache.spark.sql.functions.lit(true))
          updatesOf(joined.filter((matched && gate(mc)) ||
              (!matched && gate(ic)))
            .select(source.output.map(ColumnBridge.of): _*))
        case Some(sets) =>
          // PARTIAL path: matched source rows join the target's
          // CURRENT rows (renamed __graft_t_*) to synthesize the full
          // replacement row — assigned columns from the statement
          // (which may read both sides), unassigned columns keep the
          // target's value. The source pins once (localCheckpoint) so
          // the key pushdown, both joins and the final union read the
          // same rows. When the key set is probe-sized, the target
          // read pushes an IN-set filter — the relation's bloom/stats
          // pushdown prunes the scan to the hit units (the 100 TB
          // shape: the target never scans whole for a bounded
          // correction).
          val snap = base.localCheckpoint(true)
          val keyExpr = ColumnBridge.of(cols.head._2)
          val someKeys = snap.select(keyExpr.as("__graft_k")).distinct()
            .limit(KeyPushdownMax + 1).collect()
          val tgt0 =
            if (someKeys.length > KeyPushdownMax) tgtAll
            else {
              val ks = someKeys.toSeq.map(_.get(0)).filter(_ != null)
              // pruned EXACTLY for this statement's questions: every
              // source key is in tgt0 iff it is in the target, and
              // matched rows join only on source keys
              if (ks.isEmpty)
                tgtAll.filter(org.apache.spark.sql.functions.lit(false))
              else tgtAll.filter(col(keyCol).isin(ks: _*))
            }
          val tgtRen = tgt0.select(tgt0.columns.toSeq.map(c =>
            col(c).as(s"__graft_t_$c")): _*)
          val setMap = sets.toMap
          val matched0 = snap.join(tgtRen,
            keyExpr === col(s"__graft_t_$keyCol"), "inner")
          val matchedG = mc.map(e => matched0.filter(ColumnBridge.of(e)))
            .getOrElse(matched0)
          val matchedSel = matchedG.select(cols.map { case (n, e) =>
            (if (n == keyCol) ColumnBridge.of(e)
             else setMap.get(n).map(ColumnBridge.of)
               .getOrElse(col(s"__graft_t_$n"))).as(n)
          }: _*)
          val tgtKeys = tgt0.select(col(keyCol).as("__graft_tk"))
            .distinct()
          val unmatched0 = snap.join(tgtKeys,
            keyExpr === col("__graft_tk"), "left_anti")
          val unmatchedG = ic.map(e =>
            unmatched0.filter(ColumnBridge.of(e))).getOrElse(unmatched0)
          matchedSel.unionByName(updatesOf(unmatchedG))
      }
      try {
        LayoutIngest.mergeRowsNext(sparkSession, dir, keyCol,
          updates, classifiedAt = Some(stamp),
          dropUnmatched = dropUnmatched): Unit
        committed = true
      } catch {
        case e: LayoutIngest.StaleClassificationException =>
          attempts += 1
          require(attempts < 16,
            s"graft-layout MERGE: the classification read went " +
              s"stale $attempts times on $dir — a pathological " +
              s"storm of concurrent writers (last: ${e.getMessage})")
      }
    }
    Seq.empty
  }
}
