package graft

import graft.sql.DmlTranslate
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** PROPERTY check for the DELETE-condition translation
  * ([[DmlTranslate.toBox]]): for seeded random conjunctions of
  * supported comparisons (all five operators, both operand orders,
  * repeated columns, unsatisfiable intersections), the translated box
  * must select EXACTLY the rows Spark itself selects for the original
  * condition on an exhaustive integer grid — the executable form of
  * the review's hand-verified eight-operand-order argument. An
  * off-by-one in the open-bound closing (`>`/`<` → ±1) or a wrong
  * min/max in the conjunct intersection shows up as a set difference
  * on the grid's boundary values. */
class DmlTranslatePropertySpec extends SparkSpec {
  import spark.implicits._

  test("toBox ≡ Spark's own evaluation for 60 seeded random " +
      "conjunctions over an exhaustive grid") {
    // grid [-2, 12]² — spans every literal the generator emits, so
    // each bound lands strictly inside, on the edge, or outside
    val grid = for (a <- -2L to 12L; b <- -2L to 12L) yield (a, b)
    val df = grid.toDF("a", "b")
    val Seq(attrA, attrB) = ColumnBridge.analyzedPlan(df).output
    val target = AttributeSet(Seq(attrA, attrB))
    val rnd = new scala.util.Random(20260816L)
    def randCmp(): Expression = {
      val attr = if (rnd.nextBoolean()) attrA else attrB
      val lit = Literal(rnd.nextInt(16).toLong - 3L)
      val flip = rnd.nextBoolean()
      def mk(l: Expression, r: Expression): Expression =
        rnd.nextInt(5) match {
          case 0 => EqualTo(l, r)
          case 1 => LessThan(l, r)
          case 2 => LessThanOrEqual(l, r)
          case 3 => GreaterThan(l, r)
          case 4 => GreaterThanOrEqual(l, r)
        }
      if (flip) mk(lit, attr) else mk(attr, lit)
    }
    (1 to 60).foreach { i =>
      val conjuncts = Seq.fill(1 + rnd.nextInt(4))(randCmp())
      val cond = conjuncts.reduce[Expression](And(_, _))
      val box = DmlTranslate.toBox(cond, target)
      val byBox = grid.filter { case (a, b) =>
        box.forall { case (c, lo, hi) =>
          val v = if (c == "a") a else b
          v >= lo && v <= hi
        }
      }.toSet
      val bySpark = df.filter(ColumnBridge.of(cond))
        .as[(Long, Long)].collect().toSet
      assert(byBox === bySpark,
        s"case $i: '${cond.sql}' → box $box selected " +
          s"${byBox.size} rows, Spark selected ${bySpark.size}; " +
          s"diff ${(byBox diff bySpark) ++ (bySpark diff byBox)}")
    }
  }

  test("toBoxes ≡ Spark's own evaluation for 60 seeded random " +
      "DISJUNCTIONS of conjunctions over the same grid") {
    val grid = for (a <- -2L to 12L; b <- -2L to 12L) yield (a, b)
    val df = grid.toDF("a", "b")
    val Seq(attrA, attrB) = ColumnBridge.analyzedPlan(df).output
    val target = AttributeSet(Seq(attrA, attrB))
    val rnd = new scala.util.Random(20260817L)
    def randCmp(): Expression = {
      val attr = if (rnd.nextBoolean()) attrA else attrB
      val lit = Literal(rnd.nextInt(16).toLong - 3L)
      val flip = rnd.nextBoolean()
      def mk(l: Expression, r: Expression): Expression =
        rnd.nextInt(5) match {
          case 0 => EqualTo(l, r)
          case 1 => LessThan(l, r)
          case 2 => LessThanOrEqual(l, r)
          case 3 => GreaterThan(l, r)
          case 4 => GreaterThanOrEqual(l, r)
        }
      if (flip) mk(lit, attr) else mk(attr, lit)
    }
    // whole-disjunct shapes beyond plain conjunctions: IN and the
    // negated point forms (!=, NOT IN, NOT BETWEEN — the complement
    // decomposition), each exact on the grid
    def randDisjunct(): Expression = {
      val attr = if (rnd.nextBoolean()) attrA else attrB
      def lit() = Literal(rnd.nextInt(16).toLong - 3L)
      rnd.nextInt(8) match {
        case 0 => In(attr, Seq.fill(1 + rnd.nextInt(3))(lit()))
        case 1 => Not(EqualTo(attr, lit()))
        case 2 => Not(In(attr, Seq.fill(1 + rnd.nextInt(3))(lit())))
        case 3 => Not(Between(attr, lit(), lit()))
        case _ => Seq.fill(1 + rnd.nextInt(3))(randCmp())
          .reduce[Expression](And(_, _))
      }
    }
    (1 to 60).foreach { i =>
      // 1–3 disjuncts: overlapping, disjoint, duplicated and
      // unsatisfiable disjuncts all occur across seeds
      val cond = Seq.fill(1 + rnd.nextInt(3))(randDisjunct())
        .reduce[Expression](Or(_, _))
      val boxes = DmlTranslate.toBoxes(cond, target)
      val byBoxes = grid.filter { case (a, b) =>
        boxes.exists(_.forall { case (c, lo, hi) =>
          val v = if (c == "a") a else b
          v >= lo && v <= hi
        })
      }.toSet
      val bySpark = df.filter(ColumnBridge.of(cond))
        .as[(Long, Long)].collect().toSet
      assert(byBoxes === bySpark,
        s"case $i: '${cond.sql}' → boxes $boxes selected " +
          s"${byBoxes.size} rows, Spark selected ${bySpark.size}; " +
          s"diff ${(byBoxes diff bySpark) ++ (bySpark diff byBoxes)}")
    }
  }

  test("updateBoxes ≡ Spark's own conditional projection for 8 " +
      "seeded random box/assignment combinations on a REAL table") {
    import graft.streaming.LayoutIngest
    import graft.streaming.LayoutIngest.DmlTarget.Boxes
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val rnd = new scala.util.Random(20260818L)
    val base = (for (a <- 0L to 14L; b <- 0L to 14L)
      yield (a, b, a * 10 + b, a + 100)).toDF("a", "b", "v", "w")
    (1 to 8).foreach { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"updprop$i")
        .toFile
      dir.deleteOnExit()
      val t = dir.getAbsolutePath + "/t"
      LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
        Seq("a", "b"), Seq((0L, 14L), (0L, 14L)), bits = 4))
      LayoutIngest.ingestBatch(base, 0L, t, 2): Unit
      // 1–2 disjunct boxes over the grid columns (possibly empty or
      // overlapping), and 1–2 payload assignments reading only
      // UNTOUCHED columns (the record-time replayability contract)
      def box() = {
        val c = if (rnd.nextBoolean()) "a" else "b"
        val lo = rnd.nextInt(16).toLong - 1
        Seq((c, lo, lo + rnd.nextInt(5)))
      }
      val boxes = Seq.fill(1 + rnd.nextInt(2))(box())
      val sets = rnd.nextInt(3) match {
        case 0 => Seq("v" -> (col("w") + lit(1L)))
        case 1 => Seq("v" -> (col("a") * lit(3L)), "w" -> col("b"))
        case _ => Seq("w" -> lit(null).cast("long"))
      }
      assert(LayoutIngest.update(spark, t, Boxes(boxes), sets, 0L))
      val hit = coalesce(boxes.map(_.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi
      }.reduce(_ && _)).reduce(_ || _), lit(false))
      val setMap = sets.toMap
      val want = base.select(base.columns.toSeq.map { c =>
        setMap.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*).as[(Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      val got = LayoutIngest.read(spark, t)
        .select("a", "b", "v", "w")
        .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(got === want,
        s"case $i: boxes $boxes sets ${sets.map(_._1)} — " +
          s"diff ${(got diff want) ++ (want diff got)}")
    }
  }

  test("self-referential assignments refuse at RECORD time (the " +
      "replica-replayability gate); crash-replay of a legal " +
      "assignment converges exactly behind the same id") {
    import graft.streaming.LayoutIngest
    import graft.streaming.LayoutIngest.DmlTarget.Boxes
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("updreplay")
      .toFile
    dir.deleteOnExit()
    val t = dir.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 99L), (0L, 99L)), bits = 4))
    // two units, both intersecting the box
    LayoutIngest.ingestBatch((0L to 49L).map(i => (i, i, i * 10, i + 7))
      .toDF("a", "b", "v", "w"), 0L, t, 1): Unit
    LayoutIngest.ingestBatch((50L to 99L).map(i => (i, i, i * 10, i + 7))
      .toDF("a", "b", "v", "w"), 1L, t, 1): Unit
    // `v = v + 1` would mint a record no replica could ever replay —
    // refused BEFORE any marker or rewrite, nothing burned
    val e = intercept[IllegalArgumentException](
      LayoutIngest.update(spark, t,
        Boxes(Seq(Seq(("b", 40L, 60L)))), Seq("v" -> (col("v") + lit(1L))),
        id = 0L))
    assert(e.getMessage.contains("assigned column"), e.getMessage)
    assert(!new java.io.File(s"$t/markers/upd-0").exists(),
      "a refused statement must not mint its marker")
    // same for a swap — each side reads the OTHER assigned column
    val e2 = intercept[IllegalArgumentException](
      LayoutIngest.update(spark, t,
        Boxes(Seq(Seq(("b", 40L, 60L)))),
        Seq("v" -> col("w"), "w" -> col("v")), id = 0L))
    assert(e2.getMessage.contains("assigned column"), e2.getMessage)
    // a LEGAL assignment (reads only untouched columns) records, and
    // its crash-replay converges exactly: the replay skips the
    // crashed attempt's own published rewrites by gen-name prefix
    assert(LayoutIngest.update(spark, t,
      Boxes(Seq(Seq(("b", 40L, 60L)))), Seq("v" -> (col("b") * 10L + 1L)),
      id = 0L))
    // simulate the WORST crash window: every unit rewrite published,
    // the upd-0 marker not yet created
    val marker = new java.io.File(s"$t/markers/upd-0")
    assert(marker.exists() && marker.delete())
    assert(LayoutIngest.update(spark, t,
      Boxes(Seq(Seq(("b", 40L, 60L)))), Seq("v" -> (col("b") * 10L + 1L)),
      id = 0L))
    val got = LayoutIngest.read(spark, t)
      .select("b", "v").as[(Long, Long)].collect().toMap
    (0L to 99L).foreach { b =>
      val want = if (b >= 40L && b <= 60L) b * 10 + 1 else b * 10
      assert(got(b) === want,
        s"b=$b: got ${got(b)}, want $want")
    }
  }

  test("PARTIAL MERGE ≡ a hand-built join/union expected state for 6 " +
      "seeded random statements (partial SETs, target-reading " +
      "assignments, per-side gates)") {
    import graft.streaming.LayoutIngest
    val rnd = new scala.util.Random(20260817L)
    (1 to 6).foreach { seed =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"merge-prop-$seed").toFile
      dir.deleteOnExit()
      val t = dir.getAbsolutePath + "/t"
      // grid on (a, g) — g is never assigned, so b and v stay free
      // payload targets for the random SETs
      LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
        Seq("a", "g"), Seq((0L, 59L), (0L, 59L)), bits = 4))
      val tgtRows = (0L to 39L).map(i => (i, i, i % 7, i * 10))
      LayoutIngest.ingestBatch(
        tgtRows.toDF("a", "g", "b", "v"), 0L, t, 2): Unit
      // 12 random keys in [0, 59] — a mix of matched and unmatched
      val keys = rnd.shuffle((0L to 59L).toList).take(12)
      val srcRows = keys.map(k =>
        (k, rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      val src = srcRows.toDF("k", "b2", "v2")
      src.createOrReplaceTempView(s"mp_src_$seed")
      spark.read.format("graft-layout").load(t)
        .createOrReplaceTempView(s"mp_t_$seed")
      // random statement shape: which payload columns the UPDATE
      // assigns, from which sides, under which gates
      def randExpr(c: String): (String, (Long, Long, Long, Long) => Long) =
        rnd.nextInt(4) match {
          // (oldB, oldV, b2, v2) => assigned value
          case 0 => (s"mp_src_$seed.b2", (_, _, b2, _) => b2)
          case 1 => (s"mp_t_$seed.$c + mp_src_$seed.v2",
            (ob, ov, _, v2) => (if (c == "b") ob else ov) + v2)
          case 2 => (s"mp_t_$seed.b + mp_t_$seed.v", (ob, ov, _, _) => ob + ov)
          case 3 => (s"mp_src_$seed.b2 * 2 + 1", (_, _, b2, _) => b2 * 2 + 1)
        }
      val assignB = rnd.nextBoolean()
      val assignV = !assignB || rnd.nextBoolean() // at least one
      val (bSql, bF) = randExpr("b")
      val (vSql, vF) = randExpr("v")
      val sets = (if (assignB) Seq(s"b = $bSql") else Nil) ++
        (if (assignV) Seq(s"v = $vSql") else Nil)
      val (mGateSql, mGateF): (String, (Long, Long, Long, Long) => Boolean) =
        rnd.nextInt(3) match {
          case 0 => ("", (_, _, _, _) => true)
          case 1 => (s"AND mp_src_$seed.b2 % 2 = 0",
            (_, _, b2, _) => b2 % 2 == 0)
          case 2 => (s"AND mp_t_$seed.v % 3 = 0", (_, ov, _, _) => ov % 3 == 0)
        }
      val (iGateSql, iGateF): (String, Long => Boolean) =
        if (rnd.nextBoolean()) ("", _ => true)
        else (s"AND mp_src_$seed.v2 % 2 = 1", v2 => v2 % 2 == 1)
      spark.sql(s"""MERGE INTO mp_t_$seed USING mp_src_$seed
        ON mp_t_$seed.a = mp_src_$seed.k
        WHEN MATCHED $mGateSql THEN UPDATE SET ${sets.mkString(", ")}
        WHEN NOT MATCHED $iGateSql THEN INSERT (a, g, b, v)
          VALUES (mp_src_$seed.k, mp_src_$seed.k % 60,
            mp_src_$seed.b2, mp_src_$seed.v2)""")
      // hand-built expected state (plain Scala, no engine code)
      val tgtMap = tgtRows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val expected = scala.collection.mutable.Map(
        tgtRows.map(r => r._1 -> ((r._2, r._3, r._4))): _*)
      srcRows.foreach { case (k, b2, v2) =>
        tgtMap.get(k) match {
          case Some((g, ob, ov)) =>
            if (mGateF(ob, ov, b2, v2)) {
              val nb = if (assignB) bF(ob, ov, b2, v2) else ob
              val nv = if (assignV) vF(ob, ov, b2, v2) else ov
              expected(k) = (g, nb, nv)
            }
          case None =>
            if (iGateF(v2)) expected(k) = (k % 60, b2, v2)
        }
      }
      val got = LayoutIngest.read(spark, t)
        .select("a", "g", "b", "v").as[(Long, Long, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === expected.toMap,
        s"seed $seed: SETs=$sets mGate='$mGateSql' iGate='$iGateSql' " +
          s"diff=${(got.toSet diff expected.toSet) ++
            (expected.toSet diff got.toSet)}")
    }
  }
}
