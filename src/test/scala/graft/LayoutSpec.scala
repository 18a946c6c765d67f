package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Z-order clustering: the Morton key against a bit-twiddling
  * reference, exact quantization endpoints, and the layout property the
  * operator exists for — per-file min/max statistics tighten on EVERY
  * clustered column, where a linear sort leaves the non-leading
  * column's file ranges at the full domain (zero pruning). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def refMorton(qs: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (j <- qs.indices; i <- 0 until bits)
      z |= ((qs(j) >> i) & 1L) << (i * qs.size + j)
    z
  }

  test("mortonKey ≡ reference interleave; withZOrderKey quantizes with " +
      "the exact integer formula") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 500).map(i =>
      (i.toLong, rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val df = rows.toDF("id", "x", "y")
    val got = df.select($"id", Layout.mortonKey(Seq($"x", $"y"), 16).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, x, y) =>
      assert(got(id) === refMorton(Seq(x, y), 16))
    }
    // three dims interleave too (bit i of dim j at position i·3+j)
    val g3 = df.select($"id",
        Layout.mortonKey(Seq($"x", $"y", $"id"), 8).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, x, y) =>
      assert(g3(id) === refMorton(Seq(x, y, id), 8))
    }
    // quantization replays the (x−mn)·k div (mx−mn) formula exactly;
    // min lands on 0, max on 2^bits−1
    val mnx = rows.map(_._2).min; val mxx = rows.map(_._2).max
    val mny = rows.map(_._3).min; val mxy = rows.map(_._3).max
    val keyed = Layout.withZOrderKey(df, Seq($"x", $"y"), bits = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    rows.foreach { case (id, x, y) =>
      val qx = (x - mnx) * 15 / (mxx - mnx)
      val qy = (y - mny) * 15 / (mxy - mny)
      assert(keyed(id) === refMorton(Seq(qx, qy), 4))
    }
    // null values quantize to 0 (cluster with the minimum) — never a
    // null key that range-partitions into one catch-all file
    val withNull = rows.toDF("id", "x", "y")
      .withColumn("x", when($"id" === 0L, lit(null)).otherwise($"x"))
    val nk = Layout.withZOrderKey(withNull, Seq($"x", $"y"), bits = 4)
      .select($"id", col("__zkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mny0 = rows.map(_._3).min; val mxy0 = rows.map(_._3).max
    val mnx0 = rows.filter(_._1 != 0L).map(_._2).min
    val mxx0 = rows.filter(_._1 != 0L).map(_._2).max
    rows.foreach { case (id, x, y) =>
      val qx = if (id == 0L) 0L else (x - mnx0) * 15 / (mxx0 - mnx0)
      val qy = (y - mny0) * 15 / (mxy0 - mny0)
      assert(nk(id) === refMorton(Seq(qx, qy), 4), s"id $id")
    }
    // a constant dimension quantizes to 0 rather than dividing by zero
    val const = rows.toDF("id", "x", "y").withColumn("c", lit(7L))
    val ck = Layout.withZOrderKey(const, Seq($"x", $"c"), bits = 4)
      .select($"id", col("__zkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, x, _) =>
      val qx = (x - mnx) * 15 / (mxx - mnx)
      assert(ck(id) === refMorton(Seq(qx, 0L), 4))
    }
  }

  test("clipQuantiles: a single outlier no longer collapses the key " +
      "grid; out-of-range values clamp to the edge cells") {
    val base = (0L until 1000L).map(i => (i, i, (i * 7) % 1000))
    val data = base :+ (1000L, 1000000000000L, 500L)
    val df = data.toDF("id", "x", "y")
    // min/max quantization: the outlier stretches x's domain so every
    // real x lands in cell 0 — keys discriminate on y alone
    val plain = Layout.withZOrderKey(df, Seq($"x", $"y"), bits = 8)
      .select(col("__zkey")).distinct().count()
    assert(plain <= 257, s"expected collapsed keys, got $plain")
    // percentile bounds restore the grid; the outlier clamps to the
    // top edge cell instead of dominating the domain
    val clippedDf = Layout.withZOrderKey(df, Seq($"x", $"y"), bits = 8,
      clipQuantiles = Some((0.01, 0.99)))
    graft.operators.Dedup.releasePersisted()
    val clipped = clippedDf.select(col("__zkey")).distinct().count()
    assert(clipped > 600, s"clip must restore discrimination: $clipped")
    val outlierKey = clippedDf.filter($"id" === 1000L)
      .select(col("__zkey")).head().getLong(0)
    val maxQ = 255L
    // outlier's qx = 255 (clamped); its key has every odd... just
    // check the x bits decode back to the top cell
    val qxBits = (0 until 8).map(i => (outlierKey >> (2 * i)) & 1L)
      .zipWithIndex.map { case (b, i) => b << i }.sum
    assert(qxBits === maxQ, s"outlier must clamp to the top x cell")
  }

  test("hilbertKey: ≡ reference loop; bijection on the grid; " +
      "consecutive indices are ALWAYS adjacent cells (Z-curve is not)") {
    def refHilbert(bits: Int, x0: Long, y0: Long): Long = {
      val n = 1L << bits
      var x = x0; var y = y0; var d = 0L
      var s = n >> 1
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val bits = 4; val n = 1 << bits
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (x.toLong, y.toLong)
    val keyed = cells.toDF("x", "y")
      .select($"x", $"y", Layout.hilbertKey($"x", $"y", bits).as("d"),
        Layout.mortonKey(Seq($"x", $"y"), bits).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    cells.foreach { c =>
      assert(keyed(c)._1 === refHilbert(bits, c._1, c._2), s"cell $c")
    }
    // bijection: the curve visits every cell exactly once
    assert(keyed.values.map(_._1).toSet === (0L until n.toLong * n).toSet)
    // THE Hilbert property: step d → d+1 always moves to a Manhattan-
    // adjacent cell — no jumps anywhere on the grid
    val byD = keyed.map { case (xy, (d, _)) => d -> xy }
    val byZ = keyed.map { case (xy, (_, z)) => z -> xy }
    def jumps(m: Map[Long, (Long, Long)]) =
      (0L until n.toLong * n - 1).count { d =>
        val (x1, y1) = m(d); val (x2, y2) = m(d + 1)
        (x1 - x2).abs + (y1 - y2).abs != 1
      }
    assert(jumps(byD) === 0, "the Hilbert walk must never jump")
    // …which the Z-curve cannot do (the locality Hilbert buys)
    assert(jumps(byZ) > 0)
    // withHilbertKey wires the shared quantization to the curve
    val rnd = new scala.util.Random(5)
    val rows = (0L until 50L).map(i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    val mnx = rows.map(_._2).min; val mxx = rows.map(_._2).max
    val mny = rows.map(_._3).min; val mxy = rows.map(_._3).max
    val hk = Layout.withHilbertKey(rows.toDF("id", "x", "y"),
        $"x", $"y", bits = 4)
      .select($"id", col("__hkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, x, y) =>
      val qx = (x - mnx) * 15 / (mxx - mnx)
      val qy = (y - mny) * 15 / (mxy - mny)
      assert(hk(id) === refHilbert(4, qx, qy))
    }
  }

  test("clusterByZOrder tightens every column's per-file range; a " +
      "non-leading-column box touches few files where linear touches all") {
    val pts = for (x <- 0 until 64; y <- 0 until 64)
      yield (x * 64L + y, x.toLong, y.toLong)
    val df = pts.toDF("id", "x", "y")
    val zdir = tmp("zorder") + "/z"
    Layout.clusterByZOrder(df, Seq($"x", $"y"), numFiles = 16, bits = 6)
      .write.parquet(zdir)
    val ldir = tmp("zorder") + "/linear"
    df.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.parquet(ldir)
    def fileRanges(dir: String, c: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val ly = fileRanges(ldir, "y")
    assert(ly.size === 16)
    assert(ly.forall { case (mn, mx) => mn == 0 && mx == 63 },
      s"linear-by-x layout: every file's y stats span the full domain: $ly")
    val zy = fileRanges(zdir, "y")
    val zx = fileRanges(zdir, "x")
    // each z-file is ~256 contiguous codes = a small box (files
    // straddling a quadrant boundary can span more — range boundaries
    // are sampled, not aligned); on AVERAGE the spans collapse
    def avgSpan(rs: Seq[(Long, Long)]) =
      rs.map { case (mn, mx) => (mx - mn).toDouble }.sum / rs.size
    assert(avgSpan(zy) <= 32.0, s"z-layout y spans: $zy")
    assert(avgSpan(zx) <= 32.0, s"z-layout x spans: $zx")
    // the pruning pay-off: a thin y-box (any x) — statistics skip most
    // z-files, and can skip NOTHING under the linear layout
    def touching(rs: Seq[(Long, Long)], lo: Long, hi: Long) =
      rs.count { case (mn, mx) => mx >= lo && mn <= hi }
    assert(touching(ly, 10L, 13L) === 16)
    assert(touching(zy, 10L, 13L) <= 12,
      s"z-layout must prune on the non-leading column: $zy")
    // the layout reorders, never drops or duplicates
    assert(spark.read.parquet(zdir).select("id").as[Long].collect().sorted
      === pts.map(_._1).sorted)
    // Hilbert layout: at least as tight as the Z layout on both axes
    // (its contiguous ranges never cross a quadrant seam)
    val hdir = tmp("zorder") + "/hilbert"
    Layout.clusterByHilbert(df, $"x", $"y", numFiles = 16, bits = 6)
      .write.parquet(hdir)
    val hy = fileRanges(hdir, "y"); val hx = fileRanges(hdir, "x")
    assert(avgSpan(hy) <= avgSpan(zy) + 1.0,
      s"hilbert y spans $hy vs z $zy")
    assert(avgSpan(hx) <= avgSpan(zx) + 1.0,
      s"hilbert x spans $hx vs z $zx")
    assert(touching(hy, 10L, 13L) <= 12)
    assert(spark.read.parquet(hdir).select("id").as[Long].collect().sorted
      === pts.map(_._1).sorted)
  }

  test("withHilbertKeyN: bijection + unit-step adjacency on full 2-D " +
      "and 3-D grids; a thin box stays contiguous in key ranges") {
    // identity quantization by construction: the values ARE 0..2^b-1,
    // so min=0, max=2^b-1 and q = x — the curve itself is under test
    def fullGrid(n: Int, bits: Int): Seq[Seq[Long]] = {
      val side = 1L << bits
      (0L until math.pow(side.toDouble, n.toDouble).toLong).map { c =>
        (0 until n).map(i =>
          (c >> (i * bits)) & (side - 1)).toSeq
      }
    }
    def checkCurve(n: Int, bits: Int): Unit = {
      val side = 1L << bits
      val total = math.pow(side.toDouble, n.toDouble).toLong
      val rows = fullGrid(n, bits).zipWithIndex
        .map { case (cs, id) => (id.toLong, cs) }
      val df = rows.map { case (id, cs) =>
        (id, cs.head, cs(1), if (n > 2) cs(2) else 0L)
      }.toDF("id", "x", "y", "z")
      val cols = (Seq($"x", $"y") ++ (if (n > 2) Seq($"z") else Nil))
      val keyed = Layout.withHilbertKeyN(df, cols, bits)
      val got = keyed.select(
        col("__hkey"), $"x", $"y", $"z").collect()
        .map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2),
          r.getLong(3)).take(n)))
        .sortBy(_._1)
      // bijection onto [0, total)
      assert(got.map(_._1).toSeq === (0L until total),
        s"n=$n bits=$bits: keys must be exactly 0..${total - 1}")
      // the defining Hilbert property: consecutive indices are ALWAYS
      // adjacent cells (Manhattan distance exactly 1)
      got.sliding(2).foreach { case Array((k1, c1), (k2, c2)) =>
        val manhattan = c1.zip(c2).map { case (a, b) => (a - b).abs }.sum
        assert(manhattan === 1L,
          s"n=$n bits=$bits: keys $k1->$k2 jump from $c1 to $c2")
      }
    }
    checkCurve(2, 3) // 64 cells
    checkCurve(3, 2) // 64 cells
    checkCurve(3, 3) // 512 cells
    // locality on a 3-D thin box (the pruning shape): the box's cells
    // concentrate in FEW contiguous key runs — against 16 files of a
    // 4096-cell grid, a 1-wide slab must touch well under half
    val bits = 4; val side = 1L << bits
    val slab = fullGrid(3, bits).zipWithIndex.collect {
      case (cs, id) => (id.toLong, cs.head, cs(1), cs(2))
    }.toDF("id", "x", "y", "z")
    val keyed = Layout.withHilbertKeyN(slab, Seq($"x", $"y", $"z"), bits)
    val keys = keyed.filter($"y" === 7L).select("__hkey")
      .as[Long].collect().sorted
    val fileSize = (side * side * side) / 16
    val filesTouched = keys.map(_ / fileSize).distinct.length
    assert(filesTouched <= 8,
      s"a 1-wide y-slab must stay local: touched $filesTouched/16 files")
  }

  test("the reader actually skips: a clustered table's scan " +
      "materializes a fraction of the rows a linear layout reads") {
    // deterministic 2-D data, 16 files; a thin non-leading-column
    // slice. The LIVE FileSourceScanExec metric (rows materialized
    // after row-group skipping) is the gate — the r12 layout probe's
    // measurement (probe last in 53a609c) turned into a permanent regression spec.
    val rnd = new scala.util.Random(7)
    val pts = (0L until 20000L).map(i =>
      (i, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val df = pts.toDF("id", "x", "y")
    def scanRows(dir: String): Long = {
      val q = spark.read.parquet(dir)
        .filter($"y" >= 500L && $"y" <= 520L)
        .agg(count(lit(1)))
      q.collect() // collect, not head: head executes a derived plan
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scans(s.plan)
          case fx: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(fx)
          case other => other.children.flatMap(scans)
        }
      scans(q.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }
    val lin = tmp("prune") + "/linear"
    df.repartitionByRange(64, $"x").sortWithinPartitions("x")
      .write.parquet(lin)
    val zed = tmp("prune") + "/zorder"
    // 64 files: pruning granularity is the per-file key range, and at
    // 16 files a sampled range boundary straddling a quadrant seam
    // widens that file's y-window enough to halve the effect (measured
    // 55% materialized at 16 files vs ~30% at 64 — the probe's shape)
    Layout.clusterByZOrder(df, Seq($"x", $"y"), numFiles = 64, bits = 8)
      .write.parquet(zed)
    val linRows = scanRows(lin)
    val zRows = scanRows(zed)
    assert(linRows === 20000L,
      s"linear-by-x layout cannot prune a y slice (got $linRows)")
    assert(zRows < 20000L / 2,
      s"clustered scan must materialize under half the rows, got $zRows")
  }

  test("curve expressions COMPILE under codegen (no silent interpreted " +
      "fallback — the chained-projection disease this shape replaced)") {
    import org.apache.spark.sql.functions._
    // fallback=false makes a Janino failure THROW instead of silently
    // dropping the stage to interpreted execution, so this test pins
    // that HilbertKeyN/HilbertKey2 generate compilable code at the
    // grid shapes the battery uses (8 bits x 3 dims; 16 bits x 2)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(1000).select(
        (col("id") % 256).as("a"), (col("id") % 100).as("b"),
        (col("id") % 7).as("c"))
      assert(Layout.withHilbertKeyN(df,
          Seq(col("a"), col("b"), col("c")), bits = 8, keyCol = "k")
        .agg(countDistinct("k")).head().getLong(0) > 0)
      assert(Layout.withHilbertKey(df, col("a"), col("b"), bits = 16,
          keyCol = "k")
        .agg(countDistinct("k")).head().getLong(0) > 0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("curve expressions refuse bad inputs with TYPED errors (no " +
      "out-of-bounds ArrayData reads, no bare ClassCastException)") {
    import org.apache.spark.sql.functions._
    import graft.functions.CurveExpressions
    // wrong element type → analysis-time failure, not garbage keys
    val strs = spark.range(4).select(
      array(col("id").cast("string")).as("a"))
    val eType = intercept[Exception] {
      strs.select(CurveExpressions.hilbertKeyN(col("a"), 4, 2)).collect()
    }
    assert(eType.getMessage.contains("array<bigint>") ||
      eType.getMessage.toLowerCase.contains("type"), eType.getMessage)
    // wrong LENGTH is data, not schema: must throw at runtime in BOTH
    // execution modes, never read past numElements()
    for (codegen <- Seq("true", "false")) {
      val prev = spark.conf.getOption("spark.sql.codegen.fallback")
      spark.conf.set("spark.sql.codegen.fallback", codegen)
      try {
        val short = spark.range(4).select(array(col("id")).as("a"))
        val eLen = intercept[Exception] {
          short.select(CurveExpressions.hilbertKeyN(col("a"), 4, 3))
            .collect()
        }
        def rootMessages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
        assert(rootMessages(eLen).exists(_.contains("needs 3")),
          rootMessages(eLen).mkString(" | "))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    // a null ELEMENT is data too (array() marks containsNull whenever
    // an input is nullable): ArrayData.getLong on a null slot is
    // undefined — must throw in BOTH modes, never key as garbage
    for (codegen <- Seq("true", "false")) {
      val prev = spark.conf.getOption("spark.sql.codegen.fallback")
      spark.conf.set("spark.sql.codegen.fallback", codegen)
      try {
        val withNull = spark.range(4).select(
          array(col("id"), lit(null).cast("long")).as("a"))
        val eNull = intercept[Exception] {
          withNull.select(CurveExpressions.hilbertKeyN(col("a"), 4, 2))
            .collect()
        }
        def rootMessages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
        assert(rootMessages(eNull).exists(_.contains("is null")),
          rootMessages(eNull).mkString(" | "))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
    // HilbertKey2 on non-long coords → plan-time type error
    val e2 = intercept[Exception] {
      spark.range(4)
        .select(col("id").cast("string").as("x"), col("id").as("y"))
        .select(CurveExpressions.hilbertKey2(col("x"), col("y"), 8))
        .collect()
    }
    assert(e2.getMessage.contains("bigint") ||
      e2.getMessage.toLowerCase.contains("type"), e2.getMessage)
  }

  test("quantization overflow fails fast with the remedy, never wraps") {
    // range x (2^16-1) would exceed Long.MaxValue: Spark would wrap to
    // garbage keys silently — the guard must throw instead
    val wide = Seq((0L, 0L), (1L, Long.MaxValue / 60000)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Layout.withZOrderKey(wide, Seq($"v"), bits = 16)
    }
    assert(e.getMessage.contains("overflows long"), e.getMessage)
    assert(e.getMessage.contains("fewer bits"), e.getMessage)
    // mixed-sign extremes: mx-mn itself overflows before the multiply
    val sentinel = Seq((0L, Long.MinValue), (1L, Long.MaxValue - 2))
      .toDF("id", "v")
    val e2 = intercept[IllegalArgumentException] {
      Layout.withZOrderKey(sentinel, Seq($"v"), bits = 4)
    }
    assert(e2.getMessage.contains("more than"), e2.getMessage)
    // the same wide domain is FINE at fewer bits — the remedy works
    val keyed = Layout.withZOrderKey(wide, Seq($"v"), bits = 2)
    assert(keyed.select("__zkey").as[Long].collect().toSet === Set(0L, 3L))
    // and clipQuantiles is the other remedy: clip off the outlier and
    // the surviving domain quantizes at full width
    val outlier = ((0L until 99L).map(i => (i, i)) :+ (99L, Long.MaxValue/2))
      .toDF("id", "v")
    val clipped = Layout.withZOrderKey(outlier, Seq($"v"), bits = 16,
      clipQuantiles = Some((0.01, 0.98)))
    assert(clipped.select("__zkey").as[Long].distinct().count() > 90)
  }
}
