package graft

import graft.streaming.LayoutIngest
import graft.streaming.LayoutIngest.DmlTarget.{Boxes, Keys}
import org.apache.spark.sql.functions._

/** SQL DELETE / MERGE INTO routing over the V1 layout relation
  * ([[graft.sql.GraftSqlExtensions]], installed by SparkSpec's
  * session): exact box translation, whole-row merge validation, and
  * the typed refusals for every unsupported shape. */
class GraftSqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    val dir = d.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 100L), (0L, 100L)), bits = 8,
      bloomCols = Seq("a")))
    LayoutIngest.ingestBatch(
      (0L to 50L).map(i => (i, i * 2 % 100, s"v$i")).toDF("a", "b", "s"),
      0L, dir, 2): Unit
    dir
  }

  private def view(dir: String, name: String): Unit =
    spark.read.format("graft-layout").load(dir)
      .createOrReplaceTempView(name)

  test("DELETE translates the condition EXACTLY: open bounds close " +
      "by one, conjuncts intersect, reversed operands bind, no WHERE " +
      "deletes all") {
    val dir = freshTable("sqldml-del")
    view(dir, "sdel")
    // a > 9 AND a < 21 AND 15 >= a  ≡  a ∈ [10, 15]
    spark.sql("DELETE FROM sdel WHERE a > 9 AND a < 21 AND 15 >= a")
    val left = LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().toSet
    assert(left === ((0L to 9L) ++ (16L to 50L)).toSet,
      "exactly [10,15] must be gone — off-by-one = unsound translation")
    // equality is a degenerate box; the delete id auto-mints (a second
    // statement must not collide with the first)
    spark.sql("DELETE FROM sdel WHERE a = 20")
    assert(!LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().contains(20L))
    // BETWEEN arrives as a RuntimeReplaceable node in the analyzed plan
    spark.sql("DELETE FROM sdel WHERE a BETWEEN 30 AND 32")
    val left2 = LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().toSet
    assert(Seq(30L, 31L, 32L).forall(!left2.contains(_)) &&
      left2.contains(29L) && left2.contains(33L))
    spark.sql("DELETE FROM sdel")
    assert(LayoutIngest.read(spark, dir).count() === 0L)
  }

  test("DELETE ≡ deleteBox API twin on the same slice") {
    val dirSql = freshTable("sqldml-twin-sql")
    val dirApi = freshTable("sqldml-twin-api")
    view(dirSql, "stwin")
    spark.sql("DELETE FROM stwin WHERE b >= 30 AND b <= 60")
    LayoutIngest.delete(spark, dirApi,
      Boxes(Seq(Seq(("b", 30L, 60L)))), id = 0L)
    val got = LayoutIngest.read(spark, dirSql)
      .select("a", "zkey").as[(Long, Long)].collect().toSet
    val want = LayoutIngest.read(spark, dirApi)
      .select("a", "zkey").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("DELETE with top-level OR runs as ONE union-of-boxes delete: " +
      "exact rows, one ledger entry, overlap and duplicates harmless") {
    val dir = freshTable("sqldml-or")
    view(dir, "sor")
    def deleteOps(): Long = LayoutIngest.history(spark, dir)
      .filter(col("kind") === "delete").count()
    val before = deleteOps()
    // three disjuncts: a BETWEEN (sugar), a b-range, a point — the
    // point overlaps the first box (a=7 is inside [5,10])
    spark.sql("""DELETE FROM sor WHERE (a BETWEEN 5 AND 10)
      OR (b >= 80 AND b <= 90) OR a = 7""")
    val left = LayoutIngest.read(spark, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val want = (0L to 50L).map(i => (i, i * 2 % 100))
      .filterNot { case (a, b) =>
        (a >= 5 && a <= 10) || (b >= 80 && b <= 90) || a == 7 }
      .toSet
    assert(left === want,
      s"union delete must remove EXACTLY the OR of the boxes; " +
        s"diff ${(left diff want) ++ (want diff left)}")
    assert(deleteOps() === before + 1,
      "a multi-box DELETE statement is ONE delete op in history, " +
        "not one per disjunct")
    // duplicate disjuncts collapse before execution — still one op,
    // still exact
    spark.sql("DELETE FROM sor WHERE a = 45 OR a = 45")
    assert(!LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().contains(45L))
    assert(deleteOps() === before + 2)
    // IN = one point box per value (the forget-these-ids statement),
    // composable with the other disjuncts; still one ledger op
    spark.sql("DELETE FROM sor WHERE a IN (1, 2, 3) OR a BETWEEN 48 AND 49")
    val left3 = LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().toSet
    assert(Seq(1L, 2L, 3L, 48L, 49L).forall(!left3.contains(_)) &&
      left3.contains(0L) && left3.contains(4L) && left3.contains(47L) &&
      left3.contains(50L))
    assert(deleteOps() === before + 3)
    // ...but IN inside a conjunction would need the cross-product
    // distribution — refused typed, not approximated
    val e = intercept[Exception](
      spark.sql("DELETE FROM sor WHERE a IN (11, 12) AND b = 44"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not a conjunction")),
      msgs(e).mkString(" | "))
  }

  test("UPDATE redacts in place: box-scoped payload rewrite over " +
      "untouched columns ≡ the updateBoxes API twin; cluster/" +
      "provenance targets, self-referential and unsafe values refused") {
    def build(name: String): String = {
      val d = java.nio.file.Files.createTempDirectory(name).toFile
      d.deleteOnExit()
      val dir = d.getAbsolutePath + "/t"
      LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
        Seq("a", "b"), Seq((0L, 100L), (0L, 100L)), bits = 8,
        bloomCols = Seq("a")))
      LayoutIngest.ingestBatch(
        (0L to 50L).map(i => (i, i * 2 % 100, i * 10, i + 1000, s"v$i"))
          .toDF("a", "b", "v", "w", "s"),
        0L, dir, 2): Unit
      dir
    }
    val dir = build("sqldml-upd")
    view(dir, "supd")
    // an assignment may read any column the statement does NOT
    // assign — here v is rewritten from w (and the box column)
    spark.sql("UPDATE supd SET v = w + a WHERE a BETWEEN 10 AND 12")
    val rows = LayoutIngest.read(spark, dir)
      .select("a", "v", "w").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    (10L to 12L).foreach { a =>
      assert(rows(a) === ((a + 1000 + a, a + 1000)),
        s"cross-column assignment at $a: ${rows(a)}")
    }
    assert(rows(9L) === ((90L, 1009L)) && rows(13L) === ((130L, 1013L)),
      "rows outside the box must be untouched")
    // NULL redaction through an IN-list box; one history op per stmt
    spark.sql("UPDATE supd SET s = NULL WHERE a IN (5, 7)")
    val sByA = LayoutIngest.read(spark, dir)
      .select("a", "s").as[(Long, Option[String])].collect().toMap
    assert(sByA(5L).isEmpty && sByA(7L).isEmpty && sByA(6L).contains("v6"))
    assert(LayoutIngest.history(spark, dir)
      .filter(col("kind") === "update").count() === 2L)
    // API twin on a fresh table
    val dirApi = build("sqldml-upd-api")
    assert(LayoutIngest.update(spark, dirApi,
      Boxes(Seq(Seq(("a", 10L, 12L)))),
      Seq("v" -> (col("w") + col("a"))), id = 0L))
    assert(LayoutIngest.update(spark, dirApi,
      Boxes(Seq(Seq(("a", 5L, 5L)), Seq(("a", 7L, 7L)))),
      Seq("s" -> lit(null).cast("string")), id = 1L))
    val got = LayoutIngest.read(spark, dir)
      .select("a", "v", "w", "s", "zkey")
      .as[(Long, Long, Long, Option[String], Long)].collect().toSet
    val want = LayoutIngest.read(spark, dirApi)
      .select("a", "v", "w", "s", "zkey")
      .as[(Long, Long, Long, Option[String], Long)].collect().toSet
    assert(got === want, "SQL UPDATE ≡ updateBoxes API twin")

    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    // the cluster key and grid columns decide where the row LIVES
    refuses("UPDATE supd SET zkey = 0 WHERE a = 1",
      "not assignable in place")
    refuses("UPDATE supd SET a = 99 WHERE a = 1",
      "not assignable in place")
    // self-referential values cannot replay exactly on a replica —
    // refused at record time (the increment AND the swap; MERGE's
    // snapshot-replayed partial SET is their sanctioned spelling)
    refuses("UPDATE supd SET v = v + 1 WHERE a = 1", "assigned column")
    refuses("UPDATE supd SET v = w, w = v WHERE a = 1",
      "assigned column")
    // unsafe values: environment-bound (non-deterministic), subquery
    refuses("UPDATE supd SET v = CAST(rand() * 10 AS BIGINT) WHERE a = 1",
      "evaluation environment")
    refuses("UPDATE supd SET v = (SELECT MAX(a) FROM supd) WHERE a = 1",
      "subquery")
    // the WHERE contract is DELETE's: boxes, string POINT shapes
    // (keyed update) or string RANGES (string-range update —
    // StrRangeDmlSpec); an OR mixing a string range with a long box
    // has no exact form and still refuses
    refuses("UPDATE supd SET v = 0 WHERE s > 'v3' OR a = 1",
      "not a conjunction")
    // nothing the refusals touched changed the table
    assert(LayoutIngest.read(spark, dir).count() === 51L)
    // ...and the FULL box grammar works for UPDATE too: a negated
    // window plus an OR'd point (the retention-redaction combo)
    spark.sql(
      "UPDATE supd SET v = -1 WHERE (a NOT BETWEEN 3 AND 47) OR a = 20")
    val vByA = LayoutIngest.read(spark, dir)
      .select("a", "v").as[(Long, Long)].collect().toMap
    (0L to 50L).foreach { a =>
      if (a < 3 || a > 47 || a == 20)
        assert(vByA(a) === -1L, s"a=$a must be redacted: ${vByA(a)}")
      else if (a >= 10 && a <= 12)
        assert(vByA(a) === a + 1000 + a,
          s"a=$a keeps the cross-column value")
      else assert(vByA(a) === a * 10, s"a=$a must be untouched")
    }
  }

  test("negated DELETE shapes decompose exactly: !=, NOT IN, and NOT " +
      "BETWEEN (the retention statement); a NULL in NOT IN is refused") {
    val dir = freshTable("sqldml-neg") // rows a = 0..50
    view(dir, "sneg")
    // retention sweep: keep ONLY the [20, 30] window
    spark.sql("DELETE FROM sneg WHERE a NOT BETWEEN 20 AND 30")
    def left(): Set[Long] = LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().toSet
    assert(left() === (20L to 30L).toSet,
      "NOT BETWEEN must delete exactly the complement of the window")
    // != : two complement intervals around the point
    spark.sql("DELETE FROM sneg WHERE a != 25")
    assert(left() === Set(25L))
    // NOT IN keeps exactly the listed ids — and is ONE ledger op
    // (complement of 3 points = 4 interval boxes, one delete entry)
    val dir2 = freshTable("sqldml-neg2")
    view(dir2, "sneg2")
    spark.sql("DELETE FROM sneg2 WHERE a NOT IN (10, 11, 40)")
    assert(LayoutIngest.read(spark, dir2)
      .select("a").as[Long].collect().toSet === Set(10L, 11L, 40L))
    assert(LayoutIngest.history(spark, dir2)
      .filter(col("kind") === "delete").count() === 1L)
    // SQL's NOT IN with a NULL element deletes NOTHING (three-valued
    // logic) — refused typed rather than silently honored either way
    val e = intercept[Exception](
      spark.sql("DELETE FROM sneg2 WHERE a NOT IN (10, NULL)"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not a conjunction")),
      msgs(e).mkString(" | "))
  }

  test("DELETE with OR ≡ the deleteBoxes API twin on the same union") {
    val dirSql = freshTable("sqldml-or-sql")
    val dirApi = freshTable("sqldml-or-api")
    view(dirSql, "sortwin")
    spark.sql("""DELETE FROM sortwin WHERE (a >= 2 AND a <= 12)
      OR (b > 93 AND a < 40)""")
    LayoutIngest.delete(spark, dirApi,
      Boxes(Seq(Seq(("a", 2L, 12L)),
        Seq(("b", 94L, Long.MaxValue), ("a", Long.MinValue, 39L)))),
      id = 0L)
    val got = LayoutIngest.read(spark, dirSql)
      .select("a", "zkey").as[(Long, Long)].collect().toSet
    val want = LayoutIngest.read(spark, dirApi)
      .select("a", "zkey").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("conditional MERGE (same condition on both actions) ≡ the " +
      "pre-filtered plain merge") {
    val dirSql = freshTable("sqldml-cm-sql")
    val dirApi = freshTable("sqldml-cm-api")
    // keys 48..53 straddle the existing 0..50 rows; the condition
    // keeps only even b values — some matched, some not-matched rows
    // fall on each side of the gate
    val updates = (48L to 53L).map(i => (i, i % 4, s"new$i"))
      .toDF("a", "b", "s")
    view(dirSql, "scmerge")
    updates.createOrReplaceTempView("scmerge_src")
    spark.sql("""MERGE INTO scmerge USING scmerge_src
      ON scmerge.a = scmerge_src.a
      WHEN MATCHED AND scmerge_src.b % 2 = 0 THEN UPDATE
        SET b = scmerge_src.b, s = scmerge_src.s
      WHEN NOT MATCHED AND scmerge_src.b % 2 = 0 THEN INSERT (a, b, s)
        VALUES (scmerge_src.a, scmerge_src.b, scmerge_src.s)""")
    assert(LayoutIngest.mergeRows(spark, dirApi, "a",
      updates.filter(col("b") % 2 === 0), batchId = 1L))
    val got = LayoutIngest.read(spark, dirSql)
      .select("a", "b", "s").as[(Long, Long, String)].collect().toSet
    val want = LayoutIngest.read(spark, dirApi)
      .select("a", "b", "s").as[(Long, Long, String)].collect().toSet
    assert(got === want,
      "conditional MERGE must equal mergeRows on the pre-filtered " +
        "source — rows failing the condition neither update nor insert")

    // (a TARGET-referencing condition cannot reach the translator's
    // source-only guard through SQL: the analyzer resolves a NOT
    // MATCHED condition against the source alone, so a target ref
    // either fails resolution or lands in the per-side split's
    // source-only refusal — the guard stays as defense in depth)
  }

  test("ONE-SIDED / per-side conditional MERGE splits the source on " +
      "target-key membership — exact vs the hand-built semi/anti twin") {
    // table rows a = 0..50; update keys 48..53 straddle the boundary,
    // so matched = {48,49,50}, unmatched = {51,52,53}; gate c keeps
    // b % 2 = 0 where b = a % 4 → c holds for 48 (0), 50 (2), 52 (0)
    val updates = (48L to 53L).map(i => (i, i % 4, s"new$i"))
      .toDF("a", "b", "s")
    updates.createOrReplaceTempView("soss_src")
    def run(tag: String, sql: String => String,
        twinKeys: Seq[Long]): Unit = {
      val dirSql = freshTable(s"sqldml-oss-$tag")
      val dirApi = freshTable(s"sqldml-oss-$tag-api")
      view(dirSql, s"soss_$tag")
      spark.sql(sql(s"soss_$tag"))
      // the exact twin: a matched row failing the MATCHED gate is
      // DROPPED (its target row survives untouched); an unmatched row
      // failing the NOT-MATCHED gate is DROPPED (nothing inserts)
      assert(LayoutIngest.mergeRows(spark, dirApi, "a",
        updates.filter(col("a").isin(twinKeys: _*)), batchId = 1L))
      val got = LayoutIngest.read(spark, dirSql)
        .select("a", "b", "s", "zkey")
        .as[(Long, Long, String, Long)].collect().toSet
      val want = LayoutIngest.read(spark, dirApi)
        .select("a", "b", "s", "zkey")
        .as[(Long, Long, String, Long)].collect().toSet
      assert(got === want, s"$tag: one-sided merge must equal the " +
        "hand-split twin (matched gated, unmatched whole, or vice " +
        "versa)")
    }
    // WHEN MATCHED AND c alone: gate updates only; EVERY unmatched
    // row still inserts (48,50 pass c; 49 fails -> old row stays;
    // 51,52,53 insert)
    run("m", t => s"""MERGE INTO $t USING soss_src
      ON $t.a = soss_src.a
      WHEN MATCHED AND soss_src.b % 2 = 0 THEN UPDATE
        SET b = soss_src.b, s = soss_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (soss_src.a, soss_src.b, soss_src.s)""",
      Seq(48L, 50L, 51L, 52L, 53L))
    // the split's target-key read is COLUMN-PRUNED to the merge key:
    // the last relation scan (the key-membership join's build side —
    // mergeRows' own unit reads bypass the relation) must have pushed
    // requiredColumns = [a], never payload
    assert(graft.streaming.LayoutScanStats.lastColumnsRead === Seq("a"),
      "the one-sided split must scan ONLY the target's key column, " +
        s"got ${graft.streaming.LayoutScanStats.lastColumnsRead}")
    // WHEN NOT MATCHED AND c alone: gate inserts only; every matched
    // row updates (52 passes c; 51,53 fail -> never inserted)
    run("nm", t => s"""MERGE INTO $t USING soss_src
      ON $t.a = soss_src.a
      WHEN MATCHED THEN UPDATE SET b = soss_src.b, s = soss_src.s
      WHEN NOT MATCHED AND soss_src.b % 2 = 0 THEN INSERT (a, b, s)
        VALUES (soss_src.a, soss_src.b, soss_src.s)""",
      Seq(48L, 49L, 50L, 52L))
    // DISAGREEING conditions: each side gated by its own (matched by
    // even b -> 48,50; unmatched by odd b -> 51,53)
    run("dis", t => s"""MERGE INTO $t USING soss_src
      ON $t.a = soss_src.a
      WHEN MATCHED AND soss_src.b % 2 = 0 THEN UPDATE
        SET b = soss_src.b, s = soss_src.s
      WHEN NOT MATCHED AND soss_src.b % 2 = 1 THEN INSERT (a, b, s)
        VALUES (soss_src.a, soss_src.b, soss_src.s)""",
      Seq(48L, 50L, 51L, 53L))
  }

  test("provably-empty DELETE/UPDATE conditions are clean no-ops: " +
      "rows untouched, NO ledger entry, NO minted id") {
    val dir = freshTable("sqldml-noop")
    view(dir, "snoop")
    val before = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect().toSet
    def dmlOps(): Long = LayoutIngest.history(spark, dir)
      .filter(col("kind").isin("delete", "update")).count()
    val ops = dmlOps()
    // contradictory conjunction -> inverted box (lo > hi) -> dropped
    spark.sql("DELETE FROM snoop WHERE a = 1 AND a = 2")
    // a no-op retention shape whose complement decomposition is empty
    spark.sql("DELETE FROM snoop WHERE a NOT BETWEEN " +
      s"${Long.MinValue} AND ${Long.MaxValue}")
    // UPDATE under a contradictory predicate
    spark.sql("UPDATE snoop SET s = 'x' WHERE a = 3 AND a = 4")
    assert(LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect().toSet
      === before, "a provably-empty statement must touch no rows")
    assert(dmlOps() === ops,
      "a provably-empty statement must not mint an id or burn a " +
        "permanent ledger marker")
    // an empty disjunct DROPS while a live sibling still executes
    spark.sql("DELETE FROM snoop WHERE (a = 1 AND a = 2) OR a = 5")
    assert(!LayoutIngest.read(spark, dir)
      .select("a").as[Long].collect().contains(5L))
    assert(dmlOps() === ops + 1)
  }

  test("MERGE upserts whole rows ≡ mergeRows API twin; zkey " +
      "assignment is discarded (computed column)") {
    val dirSql = freshTable("sqldml-m-sql")
    val dirApi = freshTable("sqldml-m-api")
    val updates = (48L to 53L).map(i => (i, 7L, s"new$i"))
      .toDF("a", "b", "s")
    view(dirSql, "smerge")
    updates.createOrReplaceTempView("smerge_src")
    // assigning zkey is ALLOWED and discarded — the key recomputes
    spark.sql("""MERGE INTO smerge USING smerge_src
      ON smerge.a = smerge_src.a
      WHEN MATCHED THEN UPDATE SET b = smerge_src.b, s = smerge_src.s,
        zkey = CAST(-1 AS BIGINT)
      WHEN NOT MATCHED THEN INSERT (a, b, s, zkey)
        VALUES (smerge_src.a, smerge_src.b, smerge_src.s,
          CAST(-1 AS BIGINT))""")
    assert(LayoutIngest.mergeRows(spark, dirApi, "a", updates,
      batchId = 1L))
    val got = LayoutIngest.read(spark, dirSql)
      .select("a", "b", "s", "zkey")
      .as[(Long, Long, String, Long)].collect().toSet
    val want = LayoutIngest.read(spark, dirApi)
      .select("a", "b", "s", "zkey")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got === want)
    assert(!got.exists(_._4 == -1L),
      "the statement's zkey value must be discarded, never stored")
  }

  test("graft_history / graft_describe table functions ≡ the API " +
      "views; non-literal args refused") {
    val dir = freshTable("sqldml-tvf")
    LayoutIngest.delete(spark, dir, Boxes(Seq(Seq(("a", 5L, 9L)))), 0L)
    val histSql = spark.sql(s"SELECT * FROM graft_history('$dir')")
      .collect().toSet
    val histApi = LayoutIngest.history(spark, dir).collect().toSet
    assert(histSql === histApi && histSql.nonEmpty)
    val descSql = spark.sql(
      s"SELECT unit, files, rows FROM graft_describe('$dir')")
      .collect().toSet
    val descApi = LayoutIngest.describe(spark, dir)
      .select("unit", "files", "rows").collect().toSet
    assert(descSql === descApi && descSql.nonEmpty)
    // TVFs compose with plain SQL on top
    assert(spark.sql(s"SELECT count(*) FROM graft_history('$dir') " +
      "WHERE kind = 'delete'").head().getLong(0) === 1L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_history(1)")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("string literal")),
      msgs(e).mkString(" | "))
  }

  test("graft_table / graft_table_since ≡ the API data views, with " +
      "pushdown intact and bad args refused") {
    val dir = freshTable("sqldml-tbl")
    LayoutIngest.ingestBatch(
      (51L to 60L).map(i => (i, i % 100, s"w$i")).toDF("a", "b", "s"),
      1L, dir, 1): Unit
    // current state
    assert(spark.sql(s"SELECT a, b, s FROM graft_table('$dir')")
        .collect().toSet ===
      LayoutIngest.read(spark, dir).select("a", "b", "s")
        .collect().toSet)
    // as-of batch 0
    assert(spark.sql(s"SELECT a FROM graft_table('$dir', 0)")
        .as[Long].collect().toSet === (0L to 50L).toSet)
    // CDC since batch 0 (carries __batch)
    val since = spark.sql(
      s"SELECT a, __batch FROM graft_table_since('$dir', 0)")
      .as[(Long, Long)].collect().toSet
    assert(since === (51L to 60L).map(i => (i, 1L)).toSet)
    // the TVF resolves to the RELATION plan: a pushed point filter on
    // the bloom column must prune like the temp-view path does
    graft.streaming.LayoutScanStats.lastUnitsRead = -1
    graft.streaming.LayoutScanStats.lastUnitsLive = -1
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table('$dir') WHERE a = 55")
      .head().getLong(0) === 1L)
    val read = graft.streaming.LayoutScanStats.lastUnitsRead
    val live = graft.streaming.LayoutScanStats.lastUnitsLive
    assert(read >= 0 && read < live,
      s"bloom pushdown must prune through the TVF: read $read/$live")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$dir', 'zero')") }
    assert(msgs(e1).exists(_.contains("graft_table expects")),
      msgs(e1).mkString(" | "))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_table_since('/nope')") }
    assert(msgs(e2).exists(_.contains("graft_table_since expects")),
      msgs(e2).mkString(" | "))
  }

  test("unsupported shapes are refused with typed errors, supported " +
      "ones on provenance views too") {
    val dir = freshTable("sqldml-refuse")
    view(dir, "sref")
    (1L to 3L).map(i => (i, i, s"x$i")).toDF("a", "b", "s")
      .createOrReplaceTempView("sref_src")
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    // string POINT shapes route to the keyed delete and string
    // RANGES to the string-range delete now; a string NEGATION has
    // neither form and still refuses
    refuses("DELETE FROM sref WHERE s != 'v3'", "not a conjunction")
    // OR is supported only BETWEEN whole conjunctions — nested under
    // an AND it is not a box
    refuses("DELETE FROM sref WHERE a = 1 AND (b = 2 OR b = 3)",
      "not a conjunction")
    refuses("DELETE FROM sref WHERE a + 1 = 2", "not a conjunction")
    // a partial UPDATE SET is supported now (the synthesis path);
    // the INSERT side must still assign everything — an inserted row
    // has no old values to keep
    refuses("""MERGE INTO sref USING sref_src ON sref.a = sref_src.a
      WHEN MATCHED THEN UPDATE SET b = sref_src.b, s = sref_src.s
      WHEN NOT MATCHED THEN INSERT (a, b)
        VALUES (sref_src.a, sref_src.b)""",
      "assign every payload column")
    refuses("""MERGE INTO sref USING sref_src ON sref.a = sref_src.a
      WHEN MATCHED THEN DELETE""", "exactly one UPDATE")
    refuses("""MERGE INTO sref USING sref_src
      ON sref.a = sref_src.a AND sref.b = sref_src.b
      WHEN MATCHED THEN UPDATE SET b = sref_src.b, s = sref_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (sref_src.a, sref_src.b, sref_src.s)""",
      "single equality")
    // key reassignment is not an upsert
    refuses("""MERGE INTO sref USING sref_src ON sref.a = sref_src.a
      WHEN MATCHED THEN UPDATE SET a = sref_src.b, b = sref_src.b,
        s = sref_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (sref_src.a, sref_src.b, sref_src.s)""",
      "reassigns the merge key")
    // UPDATE assignments may read target columns now (the synthesis
    // path); a SUBQUERY in an assignment still refuses — it would
    // re-plan outside its statement
    refuses("""MERGE INTO sref USING sref_src ON sref.a = sref_src.a
      WHEN MATCHED THEN UPDATE SET b = (SELECT MAX(b) FROM sref_src),
        s = sref_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (sref_src.a, sref_src.b, sref_src.s)""",
      "contains a subquery")
    // UPDATE of a GRID column is refused typed (it decides where the
    // row lives), not Spark's generic unsupported-operation error
    refuses("UPDATE sref SET b = 1 WHERE a = 2",
      "not assignable in place")
    // the computed cluster key cannot be the merge KEY — refused
    // BEFORE any command (a mergeRows attempt would die AFTER its
    // intent marker, burning a ledger id on an impossible statement)
    spark.read.format("graft-layout").load(dir)
      .createOrReplaceTempView("sref_zk")
    spark.table("sref_zk").limit(1).createOrReplaceTempView("sref_zksrc")
    refuses("""MERGE INTO sref_zk USING sref_zksrc
      ON sref_zk.zkey = sref_zksrc.zkey
      WHEN MATCHED THEN UPDATE SET a = sref_zksrc.a, b = sref_zksrc.b,
        s = sref_zksrc.s
      WHEN NOT MATCHED THEN INSERT (a, b, s, zkey)
        VALUES (sref_zksrc.a, sref_zksrc.b, sref_zksrc.s,
          sref_zksrc.zkey)""",
      "cannot be the computed cluster key")
    // no standing merge intent was left by the refusal
    assert(!Option(new java.io.File(s"$dir/markers").list())
      .exists(_.exists(_.endsWith(".intent"))),
      "a refused MERGE must not burn a ledger id")
    // a typo'd DELETE column surfaces Spark's unresolved-column error
    // (with suggestions), not the box-translation refusal
    val te = intercept[Exception](
      spark.sql("DELETE FROM sref WHERE a_typo = 1"))
    def msgs2(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs2(x.getCause))
    assert(msgs2(te).exists(m => m.contains("a_typo") &&
        !m.contains("not a conjunction")),
      msgs2(te).mkString(" | "))
    // provenance views refuse writes
    spark.read.format("graft-layout").option("asOfBatch", "0").load(dir)
      .createOrReplaceTempView("sref_asof")
    refuses("DELETE FROM sref_asof WHERE a = 1", "reads of history")
    // nothing above mutated the table
    assert(LayoutIngest.read(spark, dir).count() === 51L)
  }

  test("PARTIAL MERGE UPDATE SET keeps unassigned target columns; " +
      "target-reading assignments accumulate; target-reading MATCHED " +
      "gates work; disagreeing sides are exact") {
    val dir = freshTable("sqldml-partial") // rows a=0..50, b=a*2%100, s=v<a>
    view(dir, "spar")
    // 1. partial SET: only s changes; b keeps the target's value
    Seq((1L, 111L, "X"), (2L, 222L, "Y"), (99L, 990L, "Z"))
      .toDF("a", "b", "s").createOrReplaceTempView("spar_src")
    spark.sql("""MERGE INTO spar USING spar_src ON spar.a = spar_src.a
      WHEN MATCHED THEN UPDATE SET s = spar_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (spar_src.a, spar_src.b, spar_src.s)""")
    val after1 = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after1(1L) === ((2L, "X")),
      "matched: s from source, b KEPT from target")
    assert(after1(2L) === ((4L, "Y")))
    assert(after1(99L) === ((990L, "Z")), "unmatched: full insert")
    assert(after1(3L) === ((6L, "v3")), "untouched rows untouched")
    assert(after1.size === 52)
    // 2. target-reading assignment: the accumulator merge
    Seq((1L, 1000L, "-"), (2L, 2000L, "-"))
      .toDF("a", "b", "s").createOrReplaceTempView("spar_acc")
    spark.sql("""MERGE INTO spar USING spar_acc ON spar.a = spar_acc.a
      WHEN MATCHED THEN UPDATE SET b = spar.b + spar_acc.b
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (spar_acc.a, spar_acc.b, spar_acc.s)""")
    val after2 = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after2(1L) === ((1002L, "X")),
      "b = old target b + source b; s kept from the previous merge")
    assert(after2(2L) === ((2004L, "Y")))
    // 3. target-reading MATCHED gate + one-sided insert
    Seq((1L, 1L, "small"), (2L, 1L, "big"), (98L, 1L, "new"))
      .toDF("a", "b", "s").createOrReplaceTempView("spar_gate")
    spark.sql("""MERGE INTO spar USING spar_gate ON spar.a = spar_gate.a
      WHEN MATCHED AND spar.b > 1500 THEN UPDATE SET s = spar_gate.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (spar_gate.a, spar_gate.b, spar_gate.s)""")
    val after3 = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after3(1L) === ((1002L, "X")),
      "target gate b>1500 FAILS for a=1 (b=1002): row untouched")
    assert(after3(2L) === ((2004L, "big")),
      "target gate passes for a=2: s updates, b kept")
    assert(after3(98L) === ((1L, "new")), "unconditional insert side")
    // 4. whole-column SETs that DISAGREE between sides are exact too
    Seq((5L, 500L, "m5"), (97L, 970L, "i97"))
      .toDF("a", "b", "s").createOrReplaceTempView("spar_dis")
    spark.sql("""MERGE INTO spar USING spar_dis ON spar.a = spar_dis.a
      WHEN MATCHED THEN UPDATE SET b = spar_dis.b * 10, s = spar_dis.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (spar_dis.a, spar_dis.b, spar_dis.s)""")
    val after4 = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after4(5L) === ((5000L, "m5")), "matched takes the UPDATE row")
    assert(after4(97L) === ((970L, "i97")), "unmatched takes the INSERT")
    // every merge minted its own ledger id; history shows 4 merges
    assert(LayoutIngest.history(spark, dir)
      .filter(col("kind") === "merge").count() === 4L)
  }

  test("STRING point DELETE routes to the keyed delete: =, IN, " +
      "top-level OR; NULL literals drop exactly; everything else " +
      "still refuses or takes the box path") {
    val dir = freshTable("sqldml-strdel")
    view(dir, "sdoc")
    def kinds(k: String): Long = LayoutIngest.history(spark, dir)
      .filter(col("kind") === k).count()
    spark.sql("DELETE FROM sdoc WHERE s = 'v3'")
    assert(kinds("delete_keys") === 1L && kinds("delete") === 0L,
      "a string point delete must be a keyed op, not a box op")
    assert(LayoutIngest.read(spark, dir).filter(col("s") === "v3")
      .count() === 0L)
    // IN with a NULL element: SQL three-valued IN — only the non-null
    // keys delete; a list of ONLY NULLs is a clean no-op (no id)
    spark.sql("DELETE FROM sdoc WHERE s IN ('v5', NULL, 'v6')")
    assert(LayoutIngest.read(spark, dir)
      .filter(col("s").isin("v5", "v6")).count() === 0L)
    assert(kinds("delete_keys") === 2L)
    spark.sql("DELETE FROM sdoc WHERE s IN (CAST(NULL AS STRING))")
    assert(kinds("delete_keys") === 2L,
      "an all-NULL key list deletes nothing and mints nothing")
    // top-level OR of same-column point shapes = ONE keyed statement
    spark.sql("DELETE FROM sdoc WHERE s = 'v8' OR s IN ('v9', 'v8')")
    assert(kinds("delete_keys") === 3L)
    assert(LayoutIngest.read(spark, dir)
      .filter(col("s").isin("v8", "v9")).count() === 0L)
    assert(LayoutIngest.read(spark, dir).count() === 51L - 5L)
    // a LONG point delete still takes the box path (exact as before)
    spark.sql("DELETE FROM sdoc WHERE a IN (30, 31)")
    assert(kinds("delete") === 1L && kinds("delete_keys") === 3L)
    // refusals: string shapes with no exact keyed form
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    refuses("DELETE FROM sdoc WHERE s != 'v1'", "not a conjunction")
    refuses("DELETE FROM sdoc WHERE s = 'v1' AND a = 1",
      "not a conjunction")
    refuses("DELETE FROM sdoc WHERE s = 'v1' OR a = 1",
      "not a conjunction")
    // (string LIKE-'p%' no longer refuses — it routes to the
    // string-RANGE delete; StrRangeDmlSpec owns that surface)
    // SQL ≡ the deleteKeys API twin
    val dirApi = freshTable("sqldml-strdel-api")
    LayoutIngest.delete(spark, dirApi, Keys("s",
      Seq("v3", "v5", "v6", "v8", "v9")), 0L): Unit
    LayoutIngest.delete(spark, dirApi,
      Boxes(Seq(Seq(("a", 30L, 31L)))), 0L): Unit
    assert(LayoutIngest.read(spark, dir).select("a", "s", "zkey")
        .as[(Long, String, Long)].collect().toSet ===
      LayoutIngest.read(spark, dirApi).select("a", "s", "zkey")
        .as[(Long, String, Long)].collect().toSet)
  }

  test("a LONG IN list ABOVE the cutover routes to the KEYED " +
      "delete/update (bloom probes, not N point boxes); at or below " +
      "it keeps the box history kind") {
    val dir = freshTable("sqldml-longin") // a = 0..50, blooms on a
    view(dir, "slin")
    def kinds(k: String): Long = LayoutIngest.history(spark, dir)
      .filter(col("kind") === k).count()
    // 65 distinct values (> 64) → ONE keyed op
    val many = (0L to 64L).map(_ * 2 + 1) // odds 1..129
    spark.sql(s"DELETE FROM slin WHERE a IN (${many.mkString(", ")})")
    assert(kinds("delete_keys") === 1L && kinds("delete") === 0L,
      "a 65-value long IN list must take the keyed path")
    assert(LayoutIngest.read(spark, dir).select("a").as[Long]
      .collect().toSet === (0L to 50L).filter(_ % 2 == 0).toSet,
      "exactly the listed odds deleted")
    // 64 values (== cutover) stays a box op — history continuity
    val few = (100L to 163L)
    spark.sql(s"DELETE FROM slin WHERE a IN (${few.mkString(", ")})")
    assert(kinds("delete") === 1L && kinds("delete_keys") === 1L,
      "a 64-value list keeps the box history kind")
    // the UPDATE twin
    val evens = (0L to 70L).map(_ * 2)
    spark.sql("UPDATE slin SET s = 'redacted' " +
      s"WHERE a IN (${evens.mkString(", ")})")
    assert(kinds("update_keys") === 1L,
      "a 71-value long IN UPDATE must take the keyed path")
    assert(LayoutIngest.read(spark, dir)
      .filter(col("s") =!= "redacted").count() === 0L,
      "every surviving (even) row redacted")
  }

  test("environment-bound UPDATE assignments are refused typed: the " +
      "recorded SQL re-evaluates per unit and at replica replay") {
    val dir = freshTable("sqldml-envbound")
    view(dir, "senv")
    def refuses(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("evaluation environment")),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    // current_timestamp() is DETERMINISTIC to Catalyst (folded per
    // query) — the naive v.deterministic check missed it; each unit
    // rewrite is its own query, so even the SOURCE would stamp
    // different values per unit, and a replica replay later still
    // different ones
    refuses("UPDATE senv SET s = cast(current_timestamp() as string) " +
      "WHERE a = 2")
    refuses("UPDATE senv SET s = uuid() WHERE a = 2")
    refuses("UPDATE senv SET s = cast(rand() as string) WHERE a = 2")
    refuses("UPDATE senv SET s = current_user() WHERE a = 2")
    // nothing mutated, no update id burned
    assert(LayoutIngest.read(spark, dir).count() === 51L)
    assert(LayoutIngest.history(spark, dir)
      .filter(col("kind") === "update").count() === 0L)
    // a pure function of the row's UNTOUCHED columns still runs
    spark.sql(
      "UPDATE senv SET s = concat('u', cast(a as string)) WHERE a = 2")
    assert(LayoutIngest.read(spark, dir).filter(col("a") === 2)
      .select("s").as[String].head() === "u2")
  }

  test("acting TVFs run at EXECUTION, not analysis: EXPLAIN-ing " +
      "graft_vacuum/graft_replicate acts nothing; SELECT acts once") {
    val dir = freshTable("sqldml-tvfexec")
    // plant sweepable debris: an orphan stage dir with no manifest
    val stage = new java.io.File(s"$dir/gen-zz-0-abc.stage")
    assert(stage.mkdirs())
    spark.sql(s"EXPLAIN SELECT * FROM graft_vacuum('$dir')").collect()
    assert(stage.exists(),
      "EXPLAIN must not run the sweep (analysis-time side effect)")
    val vrow = spark.sql(s"SELECT * FROM graft_vacuum('$dir')").head()
    assert(!stage.exists(), "SELECT must run the sweep")
    assert(vrow.getInt(1) + vrow.getInt(2) >= 1,
      s"the stats row must count the dropped stage, got $vrow")
    // replicate: EXPLAIN must not bootstrap the replica
    val dst = java.nio.file.Files.createTempDirectory("tvfexec-dst")
      .toFile.getAbsolutePath + "/r"
    spark.sql(
      s"EXPLAIN SELECT * FROM graft_replicate('$dir', '$dst')").collect()
    assert(!new java.io.File(s"$dst/grid").exists(),
      "EXPLAIN must not run the sync")
    val rrow = spark.sql(
      s"SELECT * FROM graft_replicate('$dir', '$dst')").head()
    assert(rrow.getInt(0) === 1, s"one batch pulled, got $rrow")
    assert(LayoutIngest.read(spark, dst).count() ===
      LayoutIngest.read(spark, dir).count())
  }

  test("one-sided MERGE classification is SERIALIZABLE: a write " +
      "committing between the membership read and the claim is " +
      "detected (ledgerStamp) and the statement re-classifies") {
    val dir = freshTable("sqldml-staleclass")
    // the stamp moves on every commit kind: batch, delete, merge
    val s0 = LayoutIngest.ledgerStamp(spark, dir)
    LayoutIngest.ingestBatch(
      Seq((60L, 60L, "x60")).toDF("a", "b", "s"), 1L, dir, 1): Unit
    val s1 = LayoutIngest.ledgerStamp(spark, dir)
    assert(s1 !== s0, "a committed batch must move the stamp")
    spark.read.format("graft-layout").load(dir)
      .createOrReplaceTempView("sstale")
    spark.sql("DELETE FROM sstale WHERE a = 60")
    val s2 = LayoutIngest.ledgerStamp(spark, dir)
    assert(s2 !== s1, "a committed DELETE must move the stamp")
    // a merge claiming against a STALE stamp throws the typed retry
    // signal instead of committing a mis-classified statement
    val upd = Seq((5L, 5L, "new5")).toDF("a", "b", "s")
    intercept[LayoutIngest.StaleClassificationException] {
      LayoutIngest.mergeRowsNext(spark, dir, "a", upd,
        classifiedAt = Some(s0))
    }
    assert(LayoutIngest.read(spark, dir)
      .filter(col("a") === 5).select("s").as[String].head() === "v5",
      "the stale-classified merge must not have committed")
    // against the CURRENT stamp it commits
    LayoutIngest.mergeRowsNext(spark, dir, "a", upd,
      classifiedAt = Some(LayoutIngest.ledgerStamp(spark, dir))): Unit
    assert(LayoutIngest.read(spark, dir)
      .filter(col("a") === 5).select("s").as[String].head() === "new5")
    // the SQL one-sided path (which brackets classify/commit with the
    // stamp internally) still commits end to end
    Seq((6L, 6L, "new6"), (7L, 7L, "new7"))
      .toDF("a", "b", "s").createOrReplaceTempView("sstale_src")
    spark.sql("""MERGE INTO sstale USING sstale_src
      ON sstale.a = sstale_src.a
      WHEN MATCHED AND sstale_src.a % 2 = 0 THEN UPDATE
        SET b = sstale_src.b, s = sstale_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (sstale_src.a, sstale_src.b, sstale_src.s)""")
    val got = LayoutIngest.read(spark, dir)
      .filter(col("a").isin(6L, 7L))
      .select("a", "s").as[(Long, String)].collect().toMap
    assert(got === Map(6L -> "new6", 7L -> "v7"),
      "even id replaces, odd id keeps its target row")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE: the full-sync " +
      "dimension statement — one atomic three-way merge; gated " +
      "variant; typed refusals for update-by-absence, source-reading " +
      "and environment-bound gates") {
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    // FULL SYNC: after the merge the table must equal the source
    // exactly — matched rows replaced, unmatched-source inserted,
    // unmatched-target deleted, all as ONE ledger op
    val dir = freshTable("sqldml-nmbs") // rows a = 0..50
    view(dir, "snmbs")
    Seq.range(40L, 61L).map(i => (i, i + 7L, s"sync$i"))
      .toDF("a", "b", "s").createOrReplaceTempView("snmbs_src")
    spark.sql("""MERGE INTO snmbs USING snmbs_src
      ON snmbs.a = snmbs_src.a
      WHEN MATCHED THEN UPDATE
        SET a = snmbs_src.a, b = snmbs_src.b, s = snmbs_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (snmbs_src.a, snmbs_src.b, snmbs_src.s)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = LayoutIngest.read(spark, dir)
      .select("a", "b", "s").as[(Long, Long, String)].collect().toSet
    val want = Seq.range(40L, 61L).map(i => (i, i + 7L, s"sync$i")).toSet
    assert(got === want, "table ≡ source after the full sync")
    assert(LayoutIngest.history(spark, dir)
      .filter(col("kind") === "merge").count() === 1L,
      "one atomic statement, one ledger op")
    // GATED variant: only unmatched target rows passing the
    // target-row gate delete; the rest survive the sync untouched
    val dir2 = freshTable("sqldml-nmbs-gate")
    view(dir2, "snmbsg")
    Seq((50L, 1L, "k50")).toDF("a", "b", "s")
      .createOrReplaceTempView("snmbsg_src")
    spark.sql("""MERGE INTO snmbsg USING snmbsg_src
      ON snmbsg.a = snmbsg_src.a
      WHEN MATCHED THEN UPDATE
        SET a = snmbsg_src.a, b = snmbsg_src.b, s = snmbsg_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (snmbsg_src.a, snmbsg_src.b, snmbsg_src.s)
      WHEN NOT MATCHED BY SOURCE AND snmbsg.a < 10 THEN DELETE""")
    val left2 = LayoutIngest.read(spark, dir2)
      .select("a").as[Long].collect().toSet
    assert(left2 === (10L to 50L).toSet,
      "gate: only unmatched rows with a < 10 deleted")
    assert(LayoutIngest.read(spark, dir2)
      .filter(col("a") === 50L).select("s").as[String].head() === "k50",
      "the matched row still replaced")
    // refusals
    refuses("""MERGE INTO snmbsg USING snmbsg_src
      ON snmbsg.a = snmbsg_src.a
      WHEN MATCHED THEN UPDATE SET s = snmbsg_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (snmbsg_src.a, snmbsg_src.b, snmbsg_src.s)
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'gone'""",
      "must be exactly one DELETE")
    // a source-reading gate never even resolves: Spark's analyzer
    // binds NOT MATCHED BY SOURCE conditions against the target only
    // (the translator's subset require is defense-in-depth behind it)
    refuses("""MERGE INTO snmbsg USING snmbsg_src
      ON snmbsg.a = snmbsg_src.a
      WHEN MATCHED THEN UPDATE
        SET a = snmbsg_src.a, b = snmbsg_src.b, s = snmbsg_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (snmbsg_src.a, snmbsg_src.b, snmbsg_src.s)
      WHEN NOT MATCHED BY SOURCE AND snmbsg_src.b = 1 THEN DELETE""",
      "snmbsg_src.b")
    refuses("""MERGE INTO snmbsg USING snmbsg_src
      ON snmbsg.a = snmbsg_src.a
      WHEN MATCHED THEN UPDATE
        SET a = snmbsg_src.a, b = snmbsg_src.b, s = snmbsg_src.s
      WHEN NOT MATCHED THEN INSERT (a, b, s)
        VALUES (snmbsg_src.a, snmbsg_src.b, snmbsg_src.s)
      WHEN NOT MATCHED BY SOURCE AND rand() < 2 THEN DELETE""",
      "evaluation environment")
    // nothing the refusals touched changed the table
    assert(LayoutIngest.read(spark, dir2)
      .select("a").as[Long].collect().toSet === (10L to 50L).toSet)
  }
}
