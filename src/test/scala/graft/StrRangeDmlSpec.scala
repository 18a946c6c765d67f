package graft

import graft.streaming.LayoutIngest
import graft.streaming.LayoutIngest.{StrPrefix, StrRange}
import graft.streaming.LayoutIngest.DmlTarget.StrSpan
import org.apache.spark.sql.functions._

/** The STRING-RANGE DML surface — the DOMAIN TAKEDOWN statement
  * (`DELETE ... WHERE url LIKE 'https://spam.example/%'`) and its
  * redaction twin: exactness of the prefix/range semantics under
  * three-valued logic, STRING min/max sidecar pruning in byte order,
  * SQL routing (LIKE / BETWEEN / inequality conjunctions) with typed
  * refusals for general patterns, crash idempotence behind the
  * `dels`/`upds` markers, and replica replay scoped `__batch <= upto`
  * (the q199 contract family, for ranges). */
class StrRangeDmlSpec extends SparkSpec {
  import spark.implicits._

  /** Two-unit table clustered on (a, b), a STRING `doc` column
    * (`doc-%04d` of a — lexicographic order ≡ numeric order, so the
    * string sidecars prune like the long stats do) with blooms
    * declared on it, plus a NULL-doc row per batch. */
  private def freshDocTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    val t = d.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("doc")))
    def frame(r: Range) = r.map(i =>
      (i.toLong, i.toLong, f"doc-$i%04d": String, i * 10L)) :+
      ((r.head.toLong, r.last.toLong, null: String, -1L))
    LayoutIngest.ingestBatch(
      frame(0 to 49).toDF("a", "b", "doc", "v"), 0L, t, 1): Unit
    LayoutIngest.ingestBatch(
      frame(50 to 99).toDF("a", "b", "doc", "v"), 1L, t, 1): Unit
    t
  }

  private def docs(t: String): Set[String] =
    LayoutIngest.read(spark, t).select("doc").as[Option[String]]
      .collect().flatten.toSet

  test("deleteStrPrefix removes exactly the prefixed rows, prunes " +
      "units by the STRING stats sidecar, keeps NULL rows, and is " +
      "idempotent + crash-replayable behind its marker") {
    val t = freshDocTable("strdel-prefix")
    val unitsBefore =
      Option(new java.io.File(s"$t/data").list()).get.length
    assert(LayoutIngest.delete(spark, t, StrSpan("doc", StrPrefix("doc-001")),
      id = 0L))
    val want = (0 to 99).filterNot(i => i >= 10 && i <= 19)
      .map(i => f"doc-$i%04d").toSet
    assert(docs(t) === want, "exactly doc-0010..doc-0019 deleted")
    // NULL docs never match a prefix — kept (three-valued logic)
    assert(LayoutIngest.read(spark, t)
      .filter(col("doc").isNull).count() === 2L)
    // stats pruning: only the unit whose [min,max] admits the prefix
    // rewrote (the second unit starts at doc-0050)
    val rewritten = Option(new java.io.File(s"$t/data").list()).get
      .count(_.startsWith("gen-dels0-"))
    assert(rewritten >= 1 && rewritten < unitsBefore,
      s"string stats must prune: rewrote $rewritten of $unitsBefore")
    // idempotent: same id no-ops
    assert(!LayoutIngest.delete(spark, t, StrSpan("doc", StrPrefix("doc-001")),
      id = 0L))
    // crash window: marker gone, rewrites published — replay converges
    val marker = new java.io.File(s"$t/markers/dels-0")
    assert(marker.exists() && marker.delete())
    assert(LayoutIngest.delete(spark, t, StrSpan("doc", StrPrefix("doc-001")),
      id = 0L))
    assert(docs(t) === want)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "delete_range").count() === 1L)
  }

  test("deleteStrRange honors per-bound inclusivity in byte order; " +
      "units written before the string sidecar rewrite conservatively " +
      "(correct, unpruned)") {
    val t = freshDocTable("strdel-range")
    // [doc-0040, doc-0060): inclusive lo, exclusive hi
    assert(LayoutIngest.delete(spark, t, StrSpan("doc",
      StrRange(Some("doc-0040"), loInc = true, Some("doc-0060"), hiInc = false)),
      id = 0L))
    val want = (0 to 99).filterNot(i => i >= 40 && i <= 59)
      .map(i => f"doc-$i%04d").toSet
    assert(docs(t) === want, "inclusive lo, exclusive hi — 40..59 out")
    // strip the string-stats lines from every sidecar (simulating
    // pre-string-sidecar units) — the next statement must still be
    // EXACT, just unpruned
    Option(new java.io.File(s"$t/data").listFiles()).get
      .filter(_.isDirectory).foreach { u =>
        val sf = new java.io.File(u, "_graft_stats.tsv")
        if (sf.exists()) {
          val kept = scala.io.Source.fromFile(sf).getLines()
            .filterNot(l => l.split("\t").lift(1)
              .exists(x => x == "str" || x == "str-none")).mkString("\n")
          java.nio.file.Files.write(sf.toPath, kept.getBytes("UTF-8"))
          new java.io.File(u, "._graft_stats.tsv.crc").delete(): Unit
        }
      }
    LayoutIngest.clearStatsCache()
    assert(LayoutIngest.delete(spark, t, StrSpan("doc",
      StrRange(Some("doc-0090"), loInc = false, None, hiInc = true)),
      id = 1L))
    assert(docs(t) === want.filterNot(_ > "doc-0090"),
      "exclusive unbounded-above range: strictly greater than " +
        "doc-0090 deleted, doc-0090 itself kept")
  }

  test("SQL routing: LIKE 'p%', BETWEEN, >=/<, startswith all route " +
      "to the string-range commands; general patterns and mixed " +
      "shapes refuse typed; empty ranges no-op without minting") {
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(y =>
          Option(y.getMessage).toSeq ++ msgs(y.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    val t = freshDocTable("strdel-sql")
    spark.read.format("graft-layout").load(t)
      .createOrReplaceTempView("sdoc")
    spark.sql("DELETE FROM sdoc WHERE doc LIKE 'doc-000%'")
    assert(docs(t).forall(d => !d.startsWith("doc-000")),
      "LIKE prefix delete")
    spark.sql(
      "DELETE FROM sdoc WHERE doc BETWEEN 'doc-0010' AND 'doc-0019'")
    assert(!docs(t).exists(d => d >= "doc-0010" && d <= "doc-0019"))
    spark.sql("DELETE FROM sdoc WHERE doc >= 'doc-0090' AND doc < 'doc-0093'")
    assert(docs(t).contains("doc-0093") && !docs(t).contains("doc-0092"))
    spark.sql("DELETE FROM sdoc WHERE startswith(doc, 'doc-002')")
    assert(docs(t).forall(d => !d.startsWith("doc-002")))
    val before = docs(t)
    val delRangeOps = LayoutIngest.history(spark, t)
      .filter(col("kind") === "delete_range").count()
    assert(delRangeOps === 4L, s"four range statements, got $delRangeOps")
    // provably-empty range: clean no-op, no id minted
    spark.sql("DELETE FROM sdoc WHERE doc > 'doc-z' AND doc < 'doc-a'")
    assert(docs(t) === before)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "delete_range").count() === 4L)
    // general patterns / mixed shapes refuse typed (never narrowed)
    refuses("DELETE FROM sdoc WHERE doc LIKE '%005%'",
      "not a conjunction")
    refuses("DELETE FROM sdoc WHERE doc LIKE 'doc-_5%'",
      "not a conjunction")
    refuses("DELETE FROM sdoc WHERE doc LIKE 'doc-03%' AND doc >= 'a'",
      "not a conjunction")
    refuses(
      "DELETE FROM sdoc WHERE doc LIKE 'a%' OR doc BETWEEN 'b' AND 'c'",
      "not a conjunction")
    assert(docs(t) === before, "refused statements touch nothing")
  }

  test("updateStrPrefix redacts in place; SQL UPDATE WHERE LIKE " +
      "routes to it; the selecting column is not assignable; " +
      "self-referential and env-bound values refuse") {
    def refuses(f: => Any, needle: String): Unit = {
      val e = intercept[Exception](f)
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(y =>
          Option(y.getMessage).toSeq ++ msgs(y.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"wanted '$needle': ${msgs(e).mkString(" | ")}")
    }
    val t = freshDocTable("strupd")
    assert(LayoutIngest.update(spark, t, StrSpan("doc", StrPrefix("doc-003")),
      Seq("v" -> lit(-7L)), id = 0L))
    val vByDoc = LayoutIngest.read(spark, t)
      .filter(col("doc").isNotNull)
      .select("doc", "v").as[(String, Long)].collect().toMap
    (0 to 99).foreach { i =>
      val want = if (i >= 30 && i <= 39) -7L else i * 10L
      assert(vByDoc(f"doc-$i%04d") === want, s"i=$i")
    }
    assert(LayoutIngest.read(spark, t).count() === 102L,
      "redaction never deletes")
    // SQL twin
    spark.read.format("graft-layout").load(t)
      .createOrReplaceTempView("sdocu")
    spark.sql("UPDATE sdocu SET v = -8 WHERE doc LIKE 'doc-004%'")
    assert(LayoutIngest.read(spark, t)
      .filter(col("doc") === "doc-0042").select("v").as[Long]
      .head() === -8L)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "update_range").count() === 2L)
    // refusals
    refuses(LayoutIngest.update(spark, t, StrSpan("doc", StrPrefix("doc-00")),
      Seq("doc" -> lit("x")), id = 9L), "selecting column")
    refuses(spark.sql(
      "UPDATE sdocu SET doc = 'x' WHERE doc LIKE 'doc-00%'"),
      "selects by")
    refuses(LayoutIngest.update(spark, t, StrSpan("doc", StrPrefix("doc-00")),
      Seq("v" -> (col("v") + 1L)), id = 9L), "assigned column")
    refuses(spark.sql(
      "UPDATE sdocu SET v = cast(rand()*9 as bigint) " +
        "WHERE doc LIKE 'doc-00%'"), "evaluation environment")
    // a refused statement never reaches the ledger
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "update_range").count() === 2L)
  }

  test("non-string / unknown columns and empty explicit-id ranges " +
      "refuse typed") {
    val t = freshDocTable("strdel-refuse")
    def refuses(f: => Any, needle: String): Unit = {
      val e = intercept[Exception](f)
      assert(Option(e.getMessage).exists(_.contains(needle)),
        s"wanted '$needle', got: ${e.getMessage}")
    }
    refuses(LayoutIngest.delete(spark, t, StrSpan("v", StrPrefix("1")),
      id = 0L), "string-range statements only apply to STRING")
    refuses(LayoutIngest.delete(spark, t, StrSpan("nope", StrPrefix("x")),
      id = 0L), "unknown column")
    refuses(LayoutIngest.delete(spark, t, StrSpan("doc",
      StrRange(Some("b"), loInc = true, Some("a"), hiInc = true)), id = 0L),
      "provably-empty")
    intercept[IllegalArgumentException](
      LayoutIngest.StrRange(None, true, None, true))
  }

  test("a string-range DELETE and UPDATE replay on replicas scoped " +
      "to the batches they saw; a fresh bootstrap stamps without " +
      "rewriting") {
    val t = freshDocTable("strdel-repl")
    val dst = t.stripSuffix("/t") + "/r"
    // replica catches up BEFORE the statements — it must converge by
    // replaying them
    assert(LayoutIngest.replicate(spark, t, dst).batchesPulled === 2)
    assert(LayoutIngest.delete(spark, t, StrSpan("doc", StrPrefix("doc-001")),
      id = 0L))
    assert(LayoutIngest.update(spark, t, StrSpan("doc",
      StrRange(Some("doc-0090"), loInc = true, None, hiInc = true)),
      Seq("v" -> lit(0L)), id = 0L))
    val st = LayoutIngest.replicate(spark, t, dst)
    assert(st.batchesPulled === 0 && st.dmlReplayed === 2, s"got $st")
    def snap(dir: String) =
      LayoutIngest.readSince(spark, dir, -1L)
        .select("a", "doc", "v", "__batch")
        .as[(Long, Option[String], Long, Long)].collect().toSet
    assert(snap(dst) === snap(t), "replica ≡ source bytes")
    assert(LayoutIngest.history(spark, dst)
      .filter(col("kind") === "replay").count() === 2L)
    // a FRESH bootstrap pulls post-statement bytes and only STAMPS
    val dst2 = t.stripSuffix("/t") + "/r2"
    val st2 = LayoutIngest.replicate(spark, t, dst2)
    assert(st2.dmlSkippedAsBootstrap === 2 && st2.dmlReplayed === 0,
      s"got $st2")
    assert(snap(dst2) === snap(t))
  }
}
