package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Storage-layout operators for multi-dimensional scan pruning — the
 * 100 TB lever that lives BELOW the query plan: parquet readers skip
 * whole files/row-groups from footer min/max statistics, but statistics
 * only prune when the layout makes them tight. A corpus sorted on one
 * column has every OTHER column's per-file range equal to the full
 * domain, so any filter off the sort key scans everything. Z-order
 * (Morton-order, public knowledge since Morton 1966; the same layout
 * device popularized by data-lake OPTIMIZE/ZORDER implementations)
 * interleaves the bits of the clustering columns' quantized values, so
 * files that are contiguous in key order cover small axis-aligned boxes
 * of the multi-dimensional space — EVERY clustered column's per-file
 * range tightens to ~domain/side, and a box predicate touches the few
 * files whose box intersects it.
 *
 * The key algebra is deliberately exact-integer end-to-end (global
 * min/max → `(x − mn)·(2^bits − 1) div (mx − mn)` → bit interleave of
 * the quantized ranks) so the whole derivation replays verbatim in an
 * oracle; everything is composed from built-in codegen'd bit
 * expressions — no UDF, no custom Expression needed. The LAYOUT action
 * ([[clusterByZOrder]]) is a range repartition on the key: boundaries
 * come from Spark's reservoir sampling, so file CONTENTS are
 * plan-stable but not byte-deterministic across runs — the key is the
 * oracled contract, the layout is the advisory action (the same split
 * as [[Sampling.shardPlan]]'s plan vs the files it drives).
 */
object Layout {

  /** Morton interleave of already-quantized non-negative values: bit i
    * of dimension d lands at position `i·D + d`. Bits are disjoint, so
    * the sum is a bitwise OR; all terms stay inside one whole-stage
    * codegen projection. Caller guarantees each `q` fits in `bits`
    * bits (the [[withZOrderKey]] quantization does). */
  def mortonKey(qs: Seq[Column], bits: Int): Column = {
    require(qs.nonEmpty, "mortonKey: need at least one dimension")
    require(bits >= 1 && qs.size * bits <= 62,
      s"mortonKey: ${qs.size} dims x $bits bits must fit a long")
    val d = qs.size
    val terms = for {
      (q, j) <- qs.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), i * d + j)
    terms.reduce(_ + _)
  }

  /** Append the z-order key for `cols` (cast to long; timestamps etc.
    * should be pre-projected to integers by the caller, e.g.
    * `unix_micros(col("ts"))`): one tiny global min/max aggregate per
    * call sizes the quantization grid, then the key is a single narrow
    * codegen projection. A constant column quantizes to 0 (it carries
    * no pruning information).
    *
    * `clipQuantiles = Some((lo, hi))` sizes the grid from EXACT
    * percentile bounds instead of min/max — the skew guard: one stray
    * outlier (a corrupt timestamp, an id from a different epoch) would
    * otherwise stretch the domain so far that the real mass quantizes
    * into a handful of cells and every file's statistics cover the same
    * tiny box, i.e. zero pruning. Values outside the clip bounds clamp
    * to the edge cells (they still land in the extreme files). Costs
    * one [[Sampling.exactQuantiles]] value-count pass per column —
    * worth it exactly when the domain is not trusted. */
  def withZOrderKey(df: DataFrame, cols: Seq[Column], bits: Int = 16,
      keyCol: String = "__zkey",
      clipQuantiles: Option[(Double, Double)] = None): DataFrame = {
    require(cols.nonEmpty, "withZOrderKey: need at least one column")
    val (cur, qs) = quantizedDims(df, cols, bits, clipQuantiles)
    cur.withColumn(keyCol, mortonKey(qs, bits))
      .drop(cols.indices.map(j => s"__zn$j"): _*)
  }

  /** [[withZOrderKey]] with CALLER-FIXED quantization bounds instead of
    * a per-call min/max aggregate — the form a long-lived clustered
    * TABLE needs: the grid is a table property sized once at creation
    * ([[graft.streaming.LayoutIngest]] persists it), so every ingest
    * batch, every compaction, and every oracle computes the SAME key
    * for the same row regardless of which slice of data it sees.
    * Values outside the bounds clamp to the edge cells (late data
    * drifting past the bootstrap domain still lands in the extreme
    * files — pruning degrades gracefully there, never corrupts). */
  def withZOrderKeyFixed(df: DataFrame, cols: Seq[Column],
      bounds: Seq[(Long, Long)], bits: Int = 16,
      keyCol: String = "__zkey"): DataFrame = {
    require(cols.nonEmpty && cols.size == bounds.size,
      s"withZOrderKeyFixed: ${cols.size} cols vs ${bounds.size} bounds")
    bounds.foreach { case (mn, mx) => require(mn <= mx,
      s"withZOrderKeyFixed: bound ($mn, $mx) has min > max") }
    val (cur, qs) = quantizedDimsWithBounds(df, cols, bits, bounds)
    cur.withColumn(keyCol, mortonKey(qs, bits))
      .drop(cols.indices.map(j => s"__zn$j"): _*)
  }

  /** Exact integer quantization of every dim onto [0, 2^bits) from one
    * tiny global min/max aggregate (or percentile bounds under
    * `clip`): the numerator stays under 2^63 for per-column ranges up
    * to ~1.4e14 per unit of 2^bits−1, and integer `div` (Spark) agrees
    * with `//` (DuckDB) because every operand is non-negative — the
    * oracle replays the formula verbatim. `div` has no Column-API
    * method, so the numerator is materialized as a named `__znj`
    * column (caller drops them) and divided via expr — still one
    * codegen projection. */
  private def quantizedDims(df: DataFrame, cols: Seq[Column],
      bits: Int, clip: Option[(Double, Double)] = None)
      : (DataFrame, Seq[Column]) = {
    clip.foreach { case (lo, hi) =>
      require(0 < lo && lo < hi && hi <= 1,
        s"clipQuantiles must satisfy 0 < lo < hi <= 1, got ($lo, $hi)")
    }
    val longs = cols.map(_.cast("long"))
    val bounds: Seq[(Long, Long)] = clip match {
      case None =>
        val aggCols = longs.zipWithIndex.flatMap { case (c, j) =>
          Seq(min(c).as(s"mn$j"), max(c).as(s"mx$j"))
        }
        val row = df.agg(aggCols.head, aggCols.tail: _*).head()
        longs.indices.map { j =>
          (if (row.isNullAt(2 * j)) 0L else row.getLong(2 * j),
            if (row.isNullAt(2 * j + 1)) 0L else row.getLong(2 * j + 1))
        }
      case Some((lo, hi)) =>
        longs.map { c =>
          val vs = Sampling
            .exactQuantiles(df.select(c.as("__qv")), col("__qv"),
              Seq(lo, hi))
            .collect().map(r => r.getDouble(0) -> r.getLong(2)).toMap
          (vs(lo), vs(hi))
        }
    }
    quantizedDimsWithBounds(df, cols, bits, bounds)
  }

  private def quantizedDimsWithBounds(df: DataFrame, cols: Seq[Column],
      bits: Int, bounds: Seq[(Long, Long)])
      : (DataFrame, Seq[Column]) = {
    val longs = cols.map(_.cast("long"))
    val k = (1L << bits) - 1
    var cur = df
    val qs = longs.zipWithIndex.map { case (c, j) =>
      val (mn, mx) = bounds(j)
      // overflow guard: the quantization numerator (x−mn)·k must stay a
      // long — Spark long arithmetic WRAPS silently (garbage keys, no
      // error) while the oracle's would error, so an over-wide domain
      // fails HERE with the remedy. mx−mn itself can overflow first for
      // mixed-sign extremes (e.g. an unset Long.MinValue sentinel).
      val range =
        try Math.subtractExact(mx, mn)
        catch { case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"layout column #$j: domain [$mn, $mx] spans more than " +
              "2^63 — quantization cannot represent it; clipQuantiles " +
              "away the sentinel extremes or pre-shift the column")
        }
      require(range <= Long.MaxValue / k,
        s"layout column #$j: range $range x (2^$bits - 1) overflows " +
          "long — use fewer bits, coarsen the unit (e.g. seconds " +
          "instead of micros), or clipQuantiles the outliers " +
          s"(max range at $bits bits: ${Long.MaxValue / k})")
      if (mx == mn) lit(0L)
      else {
        // nulls (ignored by the bounds) quantize to 0 — they cluster
        // with the minimum instead of producing null keys that
        // range-partition into one catch-all file; under clip, values
        // beyond the bounds clamp to the edge cells
        cur = cur.withColumn(s"__zn$j",
          (greatest(least(coalesce(c, lit(mn)), lit(mx)), lit(mn))
            - lit(mn)) * lit(k))
        expr(s"__zn$j div ${mx - mn}")
      }
    }
    (cur, qs)
  }

  /**
   * Hilbert-curve index of a quantized 2-D cell — [[mortonKey]]'s
   * better-locality sibling (public algorithm; the standard bit-level
   * xy→d conversion): CONSECUTIVE Hilbert indices are ALWAYS adjacent
   * cells (Manhattan distance 1 — the curve never jumps, where the
   * Z-curve teleports across the grid at quadrant seams), so a file
   * holding a contiguous key range covers an even tighter, always
   * connected region. The classic loop is unrolled over `bits` levels
   * into pure built-in integer expressions (~7 per level, one codegen
   * projection); exact-integer throughout, so a SQL oracle replays it
   * level by level (q157 generates one CTE per level). 2-D only — the
   * rotation structure is dimension-specific; use [[mortonKey]] for
   * higher dims.
   *
   * EXPRESSION-FORM CAVEAT: each level substitutes the previous x/y
   * expressions several times, so this single-Column form's tree grows
   * ~2.5× per level — fine for small `bits`, analysis/codegen-hostile
   * beyond ~6 (measured: minutes of planning at 8). [[withHilbertKey]]
   * materializes every level as named columns (Catalyst keeps the
   * projections separate when collapsing would duplicate non-trivial
   * expressions), keeping plan size LINEAR in `bits` — use it for real
   * keys.
   */
  def hilbertKey(qx: Column, qy: Column, bits: Int): Column =
    // one native per-row rotation loop
    // ([[graft.functions.CurveExpressions.HilbertKey2]]): the former
    // single-Column recurrence duplicated (x, y) into every level's
    // when() trees — geometric expression growth (the
    // hilbertFromQuantized lesson, measured there at 30×)
    graft.functions.CurveExpressions.hilbertKey2(
      qx.cast("long"), qy.cast("long"), bits)

  /** [[withZOrderKey]]'s Hilbert twin for the 2-D case: same
    * quantization, the [[hilbertKey]] rotation as one native
    * expression. */
  def withHilbertKey(df: DataFrame, xCol: Column, yCol: Column,
      bits: Int = 16, keyCol: String = "__hkey",
      clipQuantiles: Option[(Double, Double)] = None): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62,
      s"withHilbertKey: 2x$bits bits must fit a long")
    val (cur0, qs) = quantizedDims(df, Seq(xCol, yCol), bits,
      clipQuantiles)
    cur0.withColumn(keyCol, hilbertKey(qs(0), qs(1), bits))
      .drop("__zn0", "__zn1")
  }

  /**
   * Dimension-general Hilbert index of quantized cells — the ≥3-dim
   * answer [[withHilbertKey]]'s 2-D rotation structure could not give.
   * Public algorithm: the TRANSPOSE form (Skilling, "Programming the
   * Hilbert curve", AIP Conf. Proc. 707, 2004): an inverse-undo sweep
   * (per bit level, per dimension: invert the lead axis or exchange
   * its masked low bits with the current axis), a sequential Gray
   * fold, a correction term accumulated from the last axis's bits, and
   * a final [[mortonKey]]-style interleave of the transposed axes (bit
   * q of axis i lands at `q·D + (D−1−i)`). Everything is built-in
   * integer column algebra — exact-integer end-to-end, so a SQL oracle
   * replays it step by step (q160 generates one CTE per (level, axis)
   * exchange).
   *
   * Every intermediate is materialized as a NAMED column (the
   * [[withHilbertKey]] device): the exchange steps substitute the lead
   * axis into themselves, so the single-Column form would grow
   * geometrically per step; named levels keep plan size LINEAR in
   * `bits × dims`. Consecutive indices are adjacent cells (Manhattan
   * distance 1) in any dimension count — LayoutSpec pins bijectivity
   * and the adjacency walk on full small grids for D = 2 and 3. (For
   * D = 2 the curve is a reflection of [[hilbertKey]]'s classic
   * orientation — same locality, different labeling; both are valid
   * Hilbert curves, and the layout contract only needs SOME curve.)
   */
  def withHilbertKeyN(df: DataFrame, cols: Seq[Column], bits: Int = 16,
      keyCol: String = "__hkey",
      clipQuantiles: Option[(Double, Double)] = None): DataFrame = {
    val n = cols.size
    require(n >= 2,
      "withHilbertKeyN: need >= 2 dims (a 1-D key is the value itself)")
    require(bits >= 1 && n * bits <= 62,
      s"withHilbertKeyN: $n dims x $bits bits must fit a long")
    val (cur0, qs) = quantizedDims(df, cols, bits, clipQuantiles)
    hilbertFromQuantized(cur0, qs, cols, bits, keyCol)
  }

  /** [[withHilbertKeyN]] with caller-fixed bounds — the
    * [[withZOrderKeyFixed]] contract (table-property grid, edge-cell
    * clamping) on the Skilling curve. */
  def withHilbertKeyNFixed(df: DataFrame, cols: Seq[Column],
      bounds: Seq[(Long, Long)], bits: Int = 16,
      keyCol: String = "__hkey"): DataFrame = {
    val n = cols.size
    require(n >= 2,
      "withHilbertKeyNFixed: need >= 2 dims")
    require(n == bounds.size,
      s"withHilbertKeyNFixed: $n cols vs ${bounds.size} bounds")
    require(bits >= 1 && n * bits <= 62,
      s"withHilbertKeyNFixed: $n dims x $bits bits must fit a long")
    bounds.foreach { case (mn, mx) => require(mn <= mx,
      s"withHilbertKeyNFixed: bound ($mn, $mx) has min > max") }
    val (cur0, qs) = quantizedDimsWithBounds(df, cols, bits, bounds)
    hilbertFromQuantized(cur0, qs, cols, bits, keyCol)
  }

  /** The Skilling transform over the quantized dims, as ONE native
    * expression ([[graft.functions.CurveExpressions.HilbertKeyN]]).
    * It used to be a chain of per-(level, axis) `withColumn`
    * substitutions — semantically identical, but the transform is a
    * sequential state machine, so projection collapse inlined every
    * step into the next and the key's expression tree grew
    * multiplicatively with bits × dims (~25 µs/row at 8 bits × 3 dims:
    * the 30× ScaleProbe measured the hilbert ingest 5× slower than the
    * same-shape z-order ingest, whose interleave tree is linear). The
    * native loop is exact-integer identical — q160/q163's 21-CTE
    * DuckDB oracles and LayoutSpec's bijection/adjacency properties
    * pin it. */
  private def hilbertFromQuantized(cur0: DataFrame, qs: Seq[Column],
      cols: Seq[Column], bits: Int, keyCol: String): DataFrame = {
    val n = cols.size
    cur0.withColumn(keyCol,
        graft.functions.CurveExpressions.hilbertKeyN(
          array(qs.map(_.cast("long")): _*), bits, n))
      .drop(cols.indices.map(j => s"__zn$j"): _*)
  }

  /** Cluster the frame for writing: range-repartition on the z-key into
    * `numFiles` output splits and sort inside each, so every written
    * file covers one contiguous z-range = one small box of the
    * clustered space. Write the result straight out (each partition
    * becomes one file); statistics-based skipping then prunes files on
    * ANY clustered column's predicate, not just a leading sort key. */
  def clusterByZOrder(df: DataFrame, cols: Seq[Column], numFiles: Int,
      bits: Int = 16): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val keyed = withZOrderKey(df, cols, bits)
    keyed.repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** [[clusterByZOrder]] on the Hilbert key (2-D): same layout action,
    * strictly-connected file regions (see [[hilbertKey]]). */
  def clusterByHilbert(df: DataFrame, xCol: Column, yCol: Column,
      numFiles: Int, bits: Int = 16): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    withHilbertKey(df, xCol, yCol, bits)
      .repartitionByRange(numFiles, col("__hkey"))
      .sortWithinPartitions("__hkey")
      .drop("__hkey")
  }
}
