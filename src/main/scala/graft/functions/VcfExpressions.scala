package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native byte-walk kernels of the VCF load (S3 parse, P8 depth gate, J7
 * sample melt). Each reads only the bytes it needs from the raw text and
 * allocates only what it emits, inside whole-stage codegen.
 *
 * They replace built-in chains that each re-split whole lines or blobs:
 * `split(value, "\t", -1)` round-trips the line through a Java `String`
 * and allocates one string per sample column, and Catalyst pushes every
 * predicate on a split-derived column below the projection, so the split
 * re-ran once per predicate term. `VcfKernelsSpec` pins every kernel to
 * the chain it replaced.
 *
 * Separators are ASCII and UTF-8 continuation bytes are ≥ 0x80, so a
 * byte-level split cuts exactly where the character-level one does.
 */
object VcfExpressions {

  private final val Tab: Byte = '\t'
  private final val Colon: Byte = ':'
  private final val Comma: Byte = ','

  /** Null marker of [[parseInt]]. */
  private final val NoInt = Long.MinValue

  /** Index of the first `sep` in `s[from, until)`, or `until`. */
  private def indexOf(s: UTF8String, sep: Byte, from: Int, until: Int): Int = {
    var i = from
    while (i < until && s.getByte(i) != sep) i += 1
    i
  }

  /** Copy of the bytes `s[from, until)`. */
  private def slice(s: UTF8String, from: Int, until: Int): UTF8String = {
    val bytes = new Array[Byte](until - from)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from, bytes,
      Platform.BYTE_ARRAY_OFFSET, bytes.length)
    UTF8String.fromBytes(bytes)
  }

  /** `try_cast(s[from, until) AS int)`, or [[NoInt]] where that is null:
    * the rule of `UTF8String.toIntExact` — whitespace and ISO control
    * bytes trimmed at both ends, an optional sign, then decimal digits
    * only, null on overflow. */
  private[functions] def parseInt(s: UTF8String, from: Int, until: Int): Long = {
    var i = from
    var end = until - 1
    while (i <= end && UTF8String.isWhitespaceOrISOControl(s.getByte(i))) i += 1
    if (i > end) return NoInt
    while (end > i && UTF8String.isWhitespaceOrISOControl(s.getByte(end))) end -= 1
    val first = s.getByte(i)
    val negative = first == '-'
    if (negative || first == '+') {
      if (end == i) return NoInt
      i += 1
    }
    // accumulate negatively: Int.MinValue has no positive twin
    var acc = 0
    while (i <= end) {
      val b = s.getByte(i)
      if (b < '0' || b > '9' || acc < Int.MinValue / 10) return NoInt
      acc = acc * 10 - (b - '0')
      if (acc > 0) return NoInt
      i += 1
    }
    if (negative) acc
    else if (acc == Int.MinValue) NoInt
    else -acc
  }

  // -------------------------------------------------------------------
  // S3: tab-separated fields of a VCF line
  // -------------------------------------------------------------------

  /** Worker of [[TabField]]. */
  final class TabFieldWorker(index: Int, toEnd: Boolean, failOnError: Boolean)
      extends Serializable {
    def field(line: UTF8String): UTF8String = {
      val n = line.numBytes
      var start = 0
      var k = 0
      while (k < index) {
        val t = indexOf(line, Tab, start, n)
        if (t == n) {
          if (toEnd || !failOnError) return null
          throw new IllegalArgumentException(
            s"malformed VCF line: ${k + 1} tab-separated fields, " +
              s"field ${index + 1} missing: ${line.toString.take(80)}")
        }
        start = t + 1
        k += 1
      }
      slice(line, start, if (toEnd) n else indexOf(line, Tab, start, n))
    }
  }

  /**
   * Field `index` (0-based) of a tab-separated line; with `toEnd`, the
   * rest of the line from that field on, tabs included. Reads the line
   * only up to the field's end, so `chrom` costs a few bytes whatever the
   * sample count.
   *
   * The fixed-field form is `element_at(split(line, "\t", -1), index + 1)`:
   * a missing field fails the task under ANSI (as `element_at` does) and
   * is null otherwise. The `toEnd` form stands for
   * `slice(cells, index + 1, …)`, which is empty on a short line: it is
   * null there, never an error.
   */
  case class TabField(child: Expression, index: Int, toEnd: Boolean,
      failOnError: Boolean = SQLConf.get.ansiEnabled) extends UnaryExpression {

    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_tab_field"

    @transient private lazy val worker = new TabFieldWorker(index, toEnd, failOnError)

    override protected def nullSafeEval(input: Any): Any =
      worker.field(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tabFieldWorker", worker,
        classOf[TabFieldWorker].getName)
      nullSafeCodeGen(ctx, ev, s =>
        s"""${ev.value} = $ref.field($s);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column wrapper for the fixed-field form of [[TabField]]. */
  def tabField(line: Column, index: Int): Column =
    ColumnBridge.of(TabField(ColumnBridge.expr(line), index, toEnd = false))

  /** Column wrapper for the rest-of-line form of [[TabField]]. */
  def tabTail(line: Column, index: Int): Column =
    ColumnBridge.of(TabField(ColumnBridge.expr(line), index, toEnd = true))

  // -------------------------------------------------------------------
  // P8: the first sample's depth
  // -------------------------------------------------------------------

  /** DP of the first sample column of a tab-joined genotype string: the
    * third `:` field of the first blob, parsed like `try_cast(… AS int)`.
    * Equal to `try_cast(try_element_at(split(try_element_at(cells, 1),
    * ":"), 3) AS int)` over the split sample cells. */
  final class FirstSampleDepthWorker extends Serializable {
    def depth(blobs: UTF8String): Long = {
      val end = indexOf(blobs, Tab, 0, blobs.numBytes)
      val c1 = indexOf(blobs, Colon, 0, end)
      if (c1 == end) return NoInt
      val c2 = indexOf(blobs, Colon, c1 + 1, end)
      if (c2 == end) return NoInt
      parseInt(blobs, c2 + 1, indexOf(blobs, Colon, c2 + 1, end))
    }
  }

  case class FirstSampleDepth(child: Expression) extends UnaryExpression {

    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_first_sample_depth"

    @transient private lazy val worker = new FirstSampleDepthWorker

    override protected def nullSafeEval(input: Any): Any = {
      val v = worker.depth(input.asInstanceOf[UTF8String])
      if (v == NoInt) null else v.toInt
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("firstSampleDepth", worker,
        classOf[FirstSampleDepthWorker].getName)
      val v = ctx.freshName("dp")
      nullSafeCodeGen(ctx, ev, s =>
        s"""long $v = $ref.depth($s);
           |${ev.isNull} = $v == ${NoInt}L;
           |if (!${ev.isNull}) ${ev.value} = (int) $v;""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column wrapper for [[FirstSampleDepth]]. */
  def firstSampleDepth(genotypes: Column): Column =
    ColumnBridge.of(FirstSampleDepth(ColumnBridge.expr(genotypes)))

  // -------------------------------------------------------------------
  // J7 + P9-P11 + §2.7: the sample melt
  // -------------------------------------------------------------------

  /** Row type of [[MeltGenotypes]]: one kept sample observation. */
  val MeltSchema: StructType = StructType(Seq(
    StructField("sample_id", IntegerType, nullable = false),
    StructField("total_depth", IntegerType, nullable = false),
    StructField("var_freq", IntegerType, nullable = false),
    StructField("zygosity_status", StringType, nullable = false),
    StructField("zygosity_percent_read", IntegerType, nullable = false),
    StructField("zygosity_poss_error", StringType, nullable = false),
    StructField("zygosity_in_pseudo", StringType, nullable = false)))

  private val HomRef = UTF8String.fromString("0/0")
  private val NoCall = UTF8String.fromString("./.")
  private val Homozygous = UTF8String.fromString("homozygous")
  private val PossiblyHomozygous = UTF8String.fromString("possibly homozygous")
  private val Heterozygous = UTF8String.fromString("heterozygous")
  private val Yes = UTF8String.fromString("Y")
  private val No = UTF8String.fromString("N")

  /** Worker of [[MeltGenotypes]]. */
  final class MeltWorker(sampleIds: Option[Map[Int, Int]], intDivisionPercentRead: Boolean,
      failOnError: Boolean) extends Serializable {

    // header column index → sample id, dense; None is the identity
    private val identity = sampleIds.isEmpty
    private val mapped = sampleIds.getOrElse(Map.empty)
    private val ids: Array[Int] = {
      val a = new Array[Int](if (mapped.isEmpty) 0 else mapped.keys.max + 1)
      mapped.foreach { case (i, id) => a(i) = id }
      a
    }
    private val known: Array[Boolean] = Array.tabulate(ids.length)(mapped.contains)

    private def isGt(s: UTF8String, from: Int, until: Int, gt: UTF8String): Boolean =
      until - from == gt.numBytes &&
        s.getByte(from) == gt.getByte(0) && s.getByte(from + 1) == gt.getByte(1) &&
        s.getByte(from + 2) == gt.getByte(2)

    /** `cast(d AS int)`: under ANSI an out-of-range value fails as the
      * cast does; otherwise it saturates. */
    private def toInt(d: Double): Int = {
      if (failOnError && !(math.floor(d) <= Int.MaxValue && math.ceil(d) >= Int.MinValue))
        throw new ArithmeticException(
          s"[CAST_OVERFLOW] zygosity percent read $d overflows an int")
      d.toInt
    }

    /** The kept observation of sample column `sample`, whose blob is
      * `s[from, until)`, or null when the chain's filters drop it. */
    private def observe(s: UTF8String, from: Int, until: Int, sample: Int,
        alleleIdx: Int): InternalRow = {
      val gtEnd = indexOf(s, Colon, from, until)
      // P9: hom-ref and no-call genotypes carry no observation
      if (isGt(s, from, gtEnd, HomRef) || isGt(s, from, gtEnd, NoCall)) return null
      if (gtEnd == until) return null
      // J7: allele j pairs with AD[j + 1]
      val adEnd = indexOf(s, Colon, gtEnd + 1, until)
      var f = gtEnd + 1
      var k = 0
      while (k <= alleleIdx) {
        val c = indexOf(s, Comma, f, adEnd)
        if (c == adEnd) return null
        f = c + 1
        k += 1
      }
      val varFreq = parseInt(s, f, indexOf(s, Comma, f, adEnd))
      // P10: zero or missing allele depth
      if (varFreq == NoInt || varFreq == 0) return null
      val sampleId =
        if (identity) sample
        else if (sample < ids.length && known(sample)) ids(sample)
        else return null
      val depth =
        if (adEnd == until) 0
        else {
          val d = parseInt(s, adEnd + 1, indexOf(s, Colon, adEnd + 1, until))
          if (d == NoInt) 0 else d.toInt
        }
      val vf = varFreq.toInt
      // §2.7 as VariantColumns.zygosity evaluates it (gender 'U', so the
      // chromosome never matters): Float product, Double quotient
      val pct =
        if (depth == 0) 0.0 else (vf.toFloat * 100f).toDouble / depth.toFloat.toDouble
      val status =
        if (pct == 100.0) Homozygous
        else if (pct >= 85.0) PossiblyHomozygous
        else Heterozygous
      // the chain evaluates the rounded cast even where int division
      // replaces it, so its overflow fails the row either way
      val rounded = toInt(pct + 0.5)
      val percentRead =
        if (!intDivisionPercentRead) rounded
        else if (depth == 0) 0
        else toInt(vf.toDouble / depth.toDouble)
      new GenericInternalRow(Array[Any](sampleId, depth, vf, status, percentRead,
        if (pct <= 15.0) Yes else No, No))
    }

    def melt(blobs: UTF8String, alleleIdx: Int): ArrayData = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      val n = blobs.numBytes
      var start = 0
      var sample = 0
      // a negative allele index pairs with no AD entry
      while (alleleIdx >= 0 && start <= n) {
        val end = indexOf(blobs, Tab, start, n)
        val row = observe(blobs, start, end, sample, alleleIdx)
        if (row != null) out += row
        sample += 1
        start = end + 1
      }
      new GenericArrayData(out.toArray)
    }
  }

  /**
   * The J7 sample melt of one allele row as one expression: walks the
   * tab-joined genotype blobs once and returns only the kept
   * observations, as an array of [[MeltSchema]] rows for `inline`.
   * Hom-ref and no-call genotypes are skipped before anything is
   * allocated.
   *
   * Row for row equal to the chain it replaced (`VcfKernelsSpec`):
   * `posexplode` of the sample cells → `split(blob, ":")` → P9 skip of
   * GT `0/0`/`./.` → `try_cast(try_element_at(split(AD, ","),
   * allele_idx + 2) AS int)` non-null and non-zero → DP
   * `try_cast`, null → 0 → sample id through `sampleIds` (`None` is the
   * identity; columns a given map lacks drop) → `VariantColumns.zygosity`
   * with gender 'U' → the int-division percent read when
   * `intDivisionPercentRead`.
   */
  case class MeltGenotypes(left: Expression, right: Expression,
      sampleIds: Option[Map[Int, Int]], intDivisionPercentRead: Boolean,
      failOnError: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {

    override def dataType: DataType = ArrayType(MeltSchema, containsNull = false)
    override def prettyName: String = "graft_melt_genotypes"

    @transient private lazy val worker =
      new MeltWorker(sampleIds, intDivisionPercentRead, failOnError)

    override protected def nullSafeEval(blobs: Any, alleleIdx: Any): Any =
      worker.melt(blobs.asInstanceOf[UTF8String], alleleIdx.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("meltWorker", worker, classOf[MeltWorker].getName)
      nullSafeCodeGen(ctx, ev, (b, a) => s"${ev.value} = $ref.melt($b, $a);")
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  /** Column wrapper for [[MeltGenotypes]]: `genotypes` is the tab-joined
    * sample columns of a record, `alleleIdx` the 0-based ALT allele. */
  def meltGenotypes(genotypes: Column, alleleIdx: Column, sampleIds: Option[Map[Int, Int]],
      intDivisionPercentRead: Boolean): Column =
    ColumnBridge.of(MeltGenotypes(ColumnBridge.expr(genotypes),
      ColumnBridge.expr(alleleIdx), sampleIds, intDivisionPercentRead))
}
