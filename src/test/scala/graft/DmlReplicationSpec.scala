package graft

import graft.streaming.LayoutIngest
import graft.streaming.LayoutIngest.DmlTarget.{Boxes, Keys, StrSpan}
import graft.streaming.LayoutIngest.StrRange
import org.apache.spark.sql.functions._

/** The DML statement-record machinery and the replica surface
  * ([[LayoutIngest.replicate]]): crash-debris id occupation, the
  * marker fold, and redaction/deletion convergence on replicas —
  * "RTBF that doesn't reach replicas isn't RTBF" (r17 verdict #2). */
class DmlReplicationSpec extends SparkSpec {
  import spark.implicits._

  /** Fresh two-unit table: a = 0..99 split at 50, b = a, v = a*10. */
  private def freshTable(name: String, rows: Range.Inclusive = 0 to 99)
      : String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    val t = d.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 99L), (0L, 99L)), bits = 4))
    val (lo, hi) = (rows.head.toLong, rows.last.toLong)
    val mid = (lo + hi) / 2
    LayoutIngest.ingestBatch((lo to mid).map(i => (i, i, i * 10))
      .toDF("a", "b", "v"), 0L, t, 1): Unit
    LayoutIngest.ingestBatch((mid + 1 to hi).map(i => (i, i, i * 10))
      .toDF("a", "b", "v"), 1L, t, 1): Unit
    t
  }

  /** Full replica-comparison view: payload, key AND provenance (the
    * CDC read keeps [[LayoutIngest.BatchCol]]; plain read drops it). */
  private def snap(dir: String): Set[(Long, Long, Long, Long, Long)] =
    LayoutIngest.readSince(spark, dir, -1L)
      .select("a", "b", "v", "zkey", "__batch")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  private type KRow = (Long, Long, Option[String], Long)

  /** One crash-debris case per DML kind, on [[freshKeyedTable]]:
    * `crash` is statement A under the explicit id 0, rewriting BOTH
    * units; `later` is a semantically DIFFERENT SQL statement B of the
    * same kind (the mint-next path) whose rows sit inside A's
    * published units; `crashFx`/`laterFx` are their row effects (None
    * = deleted), the model the table must equal. */
  private case class DebrisCase(name: String, kind: String,
      crash: String => Boolean, later: String => String,
      crashFx: KRow => Option[KRow], laterFx: KRow => Option[KRow])

  private def docIn(lo: String, hi: String)(r: KRow) =
    r._3.exists(d => d >= lo && d <= hi)

  private val debrisCases = Seq(
    DebrisCase("a crashed DELETE's published debris OCCUPIES its id: " +
        "the next DIFFERENT statement mints past it and its predicate " +
        "applies INSIDE the debris units", "del",
      t => LayoutIngest.delete(spark, t,
        Boxes(Seq(Seq(("b", 40L, 60L)))), id = 0L),
      v => s"DELETE FROM $v WHERE b = 10 OR b = 90",
      r => if (r._2 >= 40 && r._2 <= 60) None else Some(r),
      r => if (r._2 == 10 || r._2 == 90) None else Some(r)),
    DebrisCase("a crashed UPDATE's debris occupies its id too — a later " +
        "statement's redaction reaches the debris (the missed-redaction " +
        "hazard)", "upd",
      t => LayoutIngest.update(spark, t,
        Boxes(Seq(Seq(("b", 0L, 99L)))), Seq("v" -> (col("b") * 10L + 1L)),
        id = 0L),
      v => s"UPDATE $v SET v = 0 WHERE b >= 10 AND b <= 20",
      r => Some(r.copy(_4 = r._2 * 10L + 1L)),
      r => if (r._2 >= 10 && r._2 <= 20) Some(r.copy(_4 = 0L)) else Some(r)),
    DebrisCase("a crashed keyed DELETE's debris occupies its id (delk)",
      "delk",
      t => LayoutIngest.delete(spark, t,
        Keys("doc", Seq("doc-10", "doc-60")), id = 0L),
      v => s"DELETE FROM $v WHERE doc IN ('doc-20', 'doc-80')",
      r => if (r._3.exists(Set("doc-10", "doc-60"))) None else Some(r),
      r => if (r._3.exists(Set("doc-20", "doc-80"))) None else Some(r)),
    DebrisCase("a crashed keyed UPDATE's debris occupies its id (updk)",
      "updk",
      t => LayoutIngest.update(spark, t,
        Keys("doc", Seq("doc-11", "doc-61")), Seq("v" -> lit(-1L)),
        id = 0L),
      v => s"UPDATE $v SET v = 0 WHERE doc = 'doc-21' OR doc = 'doc-81'",
      r => if (r._3.exists(Set("doc-11", "doc-61"))) Some(r.copy(_4 = -1L))
        else Some(r),
      r => if (r._3.exists(Set("doc-21", "doc-81"))) Some(r.copy(_4 = 0L))
        else Some(r)),
    DebrisCase("a crashed string-range DELETE's debris occupies its id " +
        "(dels)", "dels",
      t => LayoutIngest.delete(spark, t, StrSpan("doc",
        StrRange(Some("doc-40"), true, Some("doc-60"), true)), id = 0L),
      v => s"DELETE FROM $v WHERE doc LIKE 'doc-9%'",
      r => if (docIn("doc-40", "doc-60")(r)) None else Some(r),
      r => if (r._3.exists(_.startsWith("doc-9"))) None else Some(r)),
    DebrisCase("a crashed string-range UPDATE's debris occupies its id " +
        "(upds)", "upds",
      t => LayoutIngest.update(spark, t, StrSpan("doc",
        StrRange(Some("doc-40"), true, Some("doc-60"), true)),
        Seq("v" -> lit(-1L)), id = 0L),
      v => s"UPDATE $v SET v = 0 WHERE doc LIKE 'doc-9%'",
      r => if (docIn("doc-40", "doc-60")(r)) Some(r.copy(_4 = -1L))
        else Some(r),
      r => if (r._3.exists(_.startsWith("doc-9"))) Some(r.copy(_4 = 0L))
        else Some(r)))

  debrisCases.foreach { c =>
    test(c.name) {
      val t = freshKeyedTable(s"dmldebris-${c.kind}")
      def rows(): Set[KRow] = LayoutIngest.read(spark, t)
        .select("a", "b", "doc", "v").as[KRow].collect().toSet
      val base = rows()
      // statement A; then the worst crash window: all rewrites
      // published, marker never lands
      assert(c.crash(t))
      val marker = new java.io.File(s"$t/markers/${c.kind}-0")
      assert(marker.exists() && marker.delete())
      assert(Option(new java.io.File(s"$t/data").list()).get
        .count(_.startsWith(s"gen-${c.kind}0-")) === 2,
        s"premise: A's published rewrites of both units must survive " +
          s"as gen-${c.kind}0-*")
      // statement B through the mint-next path. Had B minted id 0, the
      // replay skip would have exempted A's debris units from it — a
      // missed delete/redaction.
      spark.read.format("graft-layout").load(t)
        .createOrReplaceTempView(s"debris_${c.kind}")
      spark.sql(c.later(s"debris_${c.kind}"))
      val afterB = base.flatMap(c.crashFx).flatMap(c.laterFx)
      assert(rows() === afterB,
        "B's predicate must apply inside A's published debris units")
      assert(new java.io.File(s"$t/markers/${c.kind}-1").exists(),
        "B must have minted PAST the crashed id 0")
      // A's owed replay still converges behind its own id (the same-id
      // skip is for true replays only)
      assert(c.crash(t))
      assert(rows() === afterB.flatMap(c.crashFx))
    }
  }

  test("a CRASHED chunked merge auto-completes at the next vacuum: " +
      "owed buckets merge from the durable plan + snapshot, the " +
      "committed prefix keeps its ids (no re-merge), replicas replay " +
      "every sub-merge; LIVE owners' plans are left alone (force " +
      "overrides)") {
    val t = freshTable("chunked-resume") // a = 0..99, v = a*10
    val dst = t.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, t, dst): Unit
    val updates = (25L to 84L).map(i => (i, i, i * 1000L))
      .toDF("a", "b", "v")
    val nB = 4
    val bucketCol = pmod(xxhash64(col("a")), lit(nB.toLong))
    val planned = updates.groupBy(bucketCol.as("__b")).count()
      .select("__b").as[Long].collect().sorted.toSeq
    // CRASH STATE, as mergeRowsChunkedNext would leave it: durable
    // updates snapshot + a plan (dead owner, pid past pid_max) with
    // the FIRST planned bucket already committed
    updates.write.mode("overwrite")
      .parquet(s"$t/markers/chunk-deadbeef.updates")
    val id0 = LayoutIngest.mergeRowsNext(spark, t, "a",
      updates.filter(bucketCol === planned.head))
    val host = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.split("@").last
    val planLines = Seq("graft-chunk v1 deadbeef", s"O\t4999999@$host",
      "K\ta", s"N\t$nB", "F\t4") ++
      planned.map(c => s"P\t$c") :+ s"B\t${planned.head}\t$id0"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/markers/chunk-deadbeef.plan-3"),
      planLines.mkString("\n").getBytes("UTF-8"))
    // next maintenance converges: owed buckets merge, plan retires
    LayoutIngest.vacuum(spark, t): Unit
    val got = LayoutIngest.read(spark, t)
      .select("a", "v").as[(Long, Long)].collect().toMap
    val want = ((0L to 24L) ++ (85L to 99L)).map(i => i -> i * 10L)
      .toMap ++ (25L to 84L).map(i => i -> i * 1000L).toMap
    assert(got === want, "every bucket applied exactly once")
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "merge").count() === planned.size.toLong,
      "committed prefix kept its id — owed buckets only")
    assert(!new java.io.File(s"$t/markers").listFiles()
      .exists(_.getName.startsWith("chunk-deadbeef")),
      "the completed plan and its snapshot retire")
    // the replica converges by replaying every sub-merge
    val st = LayoutIngest.replicate(spark, t, dst)
    assert(st.mergesReplayed === planned.size, s"got $st")
    assert(snap(dst) === snap(t))
    // a LIVE owner's plan is NOT auto-resumed (it is mid-flight);
    // force completes it — the operator's cross-host break
    Seq((200L, 0L, 1L)).toDF("a", "b", "v").write.mode("overwrite")
      .parquet(s"$t/markers/chunk-cafe0000.updates")
    val liveBucket = java.lang.Math.floorMod(
      spark.sql("SELECT xxhash64(CAST(200 AS BIGINT))")
        .head().getLong(0), nB.toLong)
    val livePlan = Seq("graft-chunk v1 cafe0000",
      s"O\t${java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName}",
      "K\ta", s"N\t$nB", "F\t4", s"P\t$liveBucket")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/markers/chunk-cafe0000.plan-0"),
      livePlan.mkString("\n").getBytes("UTF-8"))
    LayoutIngest.vacuum(spark, t): Unit
    assert(new java.io.File(s"$t/markers/chunk-cafe0000.plan-0")
      .exists(), "a live owner's plan must survive vacuum")
    assert(LayoutIngest.resumeChunkedMerges(spark, t,
      force = true) === 1)
    assert(LayoutIngest.read(spark, t)
      .filter(col("a") === 200L).count() === 1L,
      "the forced resume applied the owed bucket")
    assert(!new java.io.File(s"$t/markers").listFiles()
      .exists(_.getName.startsWith("chunk-cafe0000")))
  }

  test("the chunk plan round-trips: a resume rewrites the literal " +
      "graft-chunk v1 lines byte for byte, and a second resume reads " +
      "its own plan back") {
    val t = freshTable("chunked-codec") // a = 0..99, v = a*10
    val updates = (25L to 84L).map(i => (i, i, i * 1000L))
      .toDF("a", "b", "v")
    val nB = 4
    val bucketCol = pmod(xxhash64(col("a")), lit(nB.toLong))
    val planned = updates.groupBy(bucketCol.as("__b")).count()
      .select("__b").as[Long].collect().sorted.toSeq
    assert(planned.size === nB, "premise: every bucket is non-empty")
    val id0 = LayoutIngest.mergeRowsNext(spark, t, "a",
      updates.filter(bucketCol === planned.head))
    // the durable snapshot duplicates one key of the LAST bucket: the
    // middle buckets merge, then that sub-merge refuses before any
    // ledger write — the resume stops with its plan rewritten
    val dupKey = updates.filter(bucketCol === planned.last)
      .select("a").as[Long].collect().min
    updates.union(updates.filter(col("a") === dupKey))
      .write.mode("overwrite")
      .parquet(s"$t/markers/chunk-0badc0de.updates")
    val host = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.split("@").last
    val head = Seq("graft-chunk v1 0badc0de", s"O\t4999999@$host",
      "K\ta", s"N\t$nB", "F\t4") ++ planned.map(c => s"P\t$c")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/markers/chunk-0badc0de.plan-3"),
      (head :+ s"B\t${planned.head}\t$id0").mkString("\n")
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      LayoutIngest.resumeChunkedMerges(spark, t))
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    val plans = new java.io.File(s"$t/markers").list().toSeq
      .filter(_.startsWith("chunk-0badc0de.plan")).sorted
    assert(plans === Seq("chunk-0badc0de.plan-5"),
      "each committed bucket publishes the next version and retires " +
        "the superseded ones")
    val me = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName
    val ids = planned.zipWithIndex.take(3).map { case (c, i) =>
      s"B\t$c\t${id0 + i}" }
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/markers/chunk-0badc0de.plan-5")),
        "UTF-8") ===
      ((head.head +: s"O\t$me" +: head.drop(2)) ++ ids).mkString("\n"),
      "the resumer owns the rewritten plan; P and B lines round-trip")
    // the repaired snapshot: the owner is live now (this JVM), so only
    // force resumes it, and only the one owed bucket merges
    updates.write.mode("overwrite")
      .parquet(s"$t/markers/chunk-0badc0de.updates")
    assert(LayoutIngest.resumeChunkedMerges(spark, t) === 0)
    assert(LayoutIngest.resumeChunkedMerges(spark, t, force = true) === 1)
    val got = LayoutIngest.read(spark, t)
      .select("a", "v").as[(Long, Long)].collect().toMap
    assert(got === ((0L to 24L) ++ (85L to 99L)).map(i => i -> i * 10L)
      .toMap ++ (25L to 84L).map(i => i -> i * 1000L).toMap)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "merge").count() === nB.toLong)
    assert(!new java.io.File(s"$t/markers").list()
      .exists(_.startsWith("chunk-0badc0de")))
  }

  test("DML markers carry the statement record; the fold " +
      "consolidates EXACTLY: history identical, replays stay no-ops, " +
      "minting scans the log") {
    val t = freshTable("dmlfold")
    assert(LayoutIngest.delete(spark, t,
      Boxes(Seq(Seq(("b", 90L, 99L)))), id = 0L))
    assert(LayoutIngest.update(spark, t,
      Boxes(Seq(Seq(("a", 0L, 9L)), Seq(("a", 20L, 29L)))),
      Seq("v" -> lit(-1L)), id = 0L))
    val before = LayoutIngest.history(spark, t)
      .select("kind", "id", "committed", "at_ms")
      .collect().map(_.toSeq).toSet
    assert(LayoutIngest.compactDmlMarkers(spark, t) === 2)
    val names = new java.io.File(s"$t/markers").list().toSeq
    assert(names.count(_.startsWith("dml-log-")) === 1 &&
      !names.contains("del-0") && !names.contains("upd-0"),
      s"fold must leave ONE log and no individual markers: $names")
    assert(LayoutIngest.history(spark, t)
      .select("kind", "id", "committed", "at_ms")
      .collect().map(_.toSeq).toSet === before,
      "history must present folded DML ops EXACTLY as before " +
        "(kind, id, committed, commit mtime)")
    // a replay of a folded statement is still a marker no-op
    assert(!LayoutIngest.delete(spark, t,
      Boxes(Seq(Seq(("b", 90L, 99L)))), id = 0L),
      "a folded op must stay idempotent")
    // mint-next scans the log: the next ids are 1, not 0
    spark.read.format("graft-layout").load(t)
      .createOrReplaceTempView("dmlfold_t")
    spark.sql("DELETE FROM dmlfold_t WHERE b = 0")
    spark.sql("UPDATE dmlfold_t SET v = 7 WHERE b = 1")
    val names2 = new java.io.File(s"$t/markers").list().toSeq
    assert(names2.contains("del-1") && names2.contains("upd-1"),
      s"mint must scan the folded log for occupied ids: $names2")
    // a second fold folds the new markers into a fresh single log
    assert(LayoutIngest.compactDmlMarkers(spark, t) === 2)
    assert(new java.io.File(s"$t/markers").list()
      .count(_.startsWith("dml-log-")) === 1)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind").isin("delete", "update")).count() === 4)
  }

  test("DmlRecord serialize/parse round-trips over seeded shapes; " +
      "tab/newline in identifiers refuse at write") {
    val rnd = new scala.util.Random(18)
    (0 until 60).foreach { i =>
      val kind = Seq("del", "upd", "sdml")(rnd.nextInt(3))
      val id = rnd.nextLong(1L << 40)
      val boxes = Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(3))(
          (s"c${rnd.nextInt(5)}", rnd.nextLong(), rnd.nextLong())))
      val sets =
        if (kind == "del") Nil
        else Seq.fill(rnd.nextInt(3))(
          (s"p${rnd.nextInt(4)}", "(coalesce(`x`, 0) + 1)"))
      val at = if (rnd.nextBoolean()) Some(rnd.nextLong(1L << 45)) else None
      val r = LayoutIngest.DmlRecord(kind, id, i.toLong,
        rnd.nextLong() >> 16, boxes, sets, at)
      val back = LayoutIngest.DmlRecord.parse(kind, id,
        LayoutIngest.DmlRecord.serialize(r).split("\n", -1).toSeq, None)
      assert(back === r, s"case $i: $r -> $back")
    }
    intercept[IllegalArgumentException](LayoutIngest.DmlRecord.serialize(
      LayoutIngest.DmlRecord("del", 0L, 0L, 0L,
        Seq(Seq(("a\tb", 0L, 1L))), Nil, None)))
    intercept[IllegalArgumentException](LayoutIngest.DmlRecord.serialize(
      LayoutIngest.DmlRecord("upd", 0L, 0L, 0L,
        Seq(Seq(("a", 0L, 1L))), Seq("v" -> "line1\nline2"), None)))
  }

  test("replicate pulls the committed batch prefix: bytes, keys and " +
      "provenance mirror the source") {
    val src = freshTable("repl-basic-src")
    val dst = src.stripSuffix("/t") + "/r"
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 2 && st.dmlReplayed === 0)
    assert(snap(dst) === snap(src),
      "a replica must serve the source's rows, keys AND __batch ids")
    // idempotent: a second sync pulls and replays nothing
    val st2 = LayoutIngest.replicate(spark, src, dst)
    assert(st2 === LayoutIngest.ReplicateStats(0, 0, 0))
  }

  test("a deletion AND a redaction on the source CONVERGE on a " +
      "replica that already consumed the rows — the RTBF gap, closed") {
    val src = freshTable("repl-rtbf-src")
    val dst = src.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, src, dst): Unit
    // the replica now holds unredacted rows; the source forgets a
    // user slice and redacts another — through the SQL surface
    spark.read.format("graft-layout").load(src)
      .createOrReplaceTempView("rtbf_src")
    spark.sql("DELETE FROM rtbf_src WHERE a BETWEEN 10 AND 19")
    spark.sql("UPDATE rtbf_src SET v = -1 WHERE a BETWEEN 30 AND 39")
    assert(snap(dst) !== snap(src),
      "premise: the replica must actually be stale before the sync")
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 0 && st.dmlReplayed === 2)
    assert(snap(dst) === snap(src),
      "after the sync the replica must converge: deleted rows gone, " +
        "redacted values overwritten")
    // the replays are recorded and exactly-once
    assert(LayoutIngest.replicate(spark, src, dst) ===
      LayoutIngest.ReplicateStats(0, 0, 0))
    assert(LayoutIngest.history(spark, dst)
      .filter(col("kind") === "replay").count() === 2)
    // ...and survive the replica's own marker fold: vacuum folds the
    // sdml markers into the dml-log, and a re-sync still replays
    // nothing (the applied set reads the log)
    assert(LayoutIngest.vacuum(spark, dst).dmlMarkersFolded === 2)
    assert(LayoutIngest.replicate(spark, src, dst) ===
      LayoutIngest.ReplicateStats(0, 0, 0))
    assert(LayoutIngest.history(spark, dst)
      .filter(col("kind") === "replay").count() === 2)
  }

  test("rows the source ingested AFTER a statement are NEVER " +
      "transformed on the replica (the upto scope)") {
    val src = freshTable("repl-scope-src")
    val dst = src.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, src, dst): Unit
    // redact v for EVERY row present now (batches 0..1)
    LayoutIngest.dmlNext(spark, src,
      Boxes(Seq(Seq(("a", 0L, 99L)))), Seq("v" -> lit(0L))): Unit
    // then a THIRD batch lands in the same box — the statement never
    // saw it, so neither side may redact it
    LayoutIngest.ingestBatch((0L to 9L).map(i => (i, i, 777L))
      .toDF("a", "b", "v"), 2L, src, 1): Unit
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 1 && st.dmlReplayed === 1)
    assert(snap(dst) === snap(src))
    assert(LayoutIngest.readSince(spark, dst, 1L)
      .select("v").as[Long].collect().toSet === Set(777L),
      "batch-2 rows postdate the statement — a replica replay scoped " +
        "by upto must leave them untouched")
  }

  test("a FRESH replica bootstraps without re-running history: " +
      "statements stamp applied, nothing rewrites") {
    val src = freshTable("repl-boot-src")
    LayoutIngest.dmlNext(spark, src,
      Boxes(Seq(Seq(("a", 0L, 4L)))), Nil): Unit
    LayoutIngest.dmlNext(spark, src,
      Boxes(Seq(Seq(("a", 90L, 99L)))), Seq("v" -> lit(-5L))): Unit
    val dst = src.stripSuffix("/t") + "/r"
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 2 && st.dmlReplayed === 0 &&
      st.dmlSkippedAsBootstrap === 2,
      s"bootstrap must stamp, not replay: $st")
    assert(snap(dst) === snap(src))
    assert(!Option(new java.io.File(s"$dst/data").list()).get
      .exists(_.startsWith("gen-sdml")),
      "a bootstrap stamp must not rewrite any unit")
    // the stamps are real records: a LATER statement still replays
    LayoutIngest.dmlNext(spark, src, Boxes(Seq(Seq(("a", 50L, 54L)))), Nil): Unit
    val st2 = LayoutIngest.replicate(spark, src, dst)
    assert(st2.dmlReplayed === 1 && snap(dst) === snap(src))
  }

  test("a replica of a replica converges (chained replication)") {
    val src = freshTable("repl-chain-src")
    val r1 = src.stripSuffix("/t") + "/r1"
    val r2 = src.stripSuffix("/t") + "/r2"
    LayoutIngest.replicate(spark, src, r1): Unit
    LayoutIngest.replicate(spark, r1, r2): Unit
    LayoutIngest.dmlNext(spark, src, Boxes(Seq(Seq(("b", 40L, 49L)))), Nil): Unit
    LayoutIngest.dmlNext(spark, src,
      Boxes(Seq(Seq(("b", 60L, 69L)))), Seq("v" -> lit(0L))): Unit
    LayoutIngest.replicate(spark, src, r1): Unit
    val st = LayoutIngest.replicate(spark, r1, r2)
    assert(st.dmlReplayed === 2)
    assert(snap(r2) === snap(src),
      "the grand-replica must converge to the source through the " +
        "middle replica's recorded replays")
  }

  test("a MERGE on the source REPLAYS on the replica at its exact " +
      "ledger position: matched old versions go, inserts land, " +
      "interleaved statements keep source order") {
    val src = freshTable("repl-merge-src")
    val dst = src.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, src, dst): Unit
    // the replica holds pre-merge rows; the source corrects 3 keys
    // (one per unit boundary side) and inserts a new one, then a
    // LATER statement redacts a slice covering a merged row
    val updates = Seq((5L, 5L, 111L), (60L, 60L, 222L),
      (150L, 7L, 333L)).toDF("a", "b", "v")
    val mid = LayoutIngest.mergeRowsNext(spark, src, "a", updates)
    LayoutIngest.dmlNext(spark, src,
      Boxes(Seq(Seq(("b", 0L, 10L)))), Seq("v" -> lit(-1L))): Unit
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.mergesReplayed === 1 && st.dmlReplayed === 1,
      s"one merge + one update must replay: $st")
    assert(snap(dst) === snap(src),
      "the replica must converge through the merge replay: old " +
        "versions removed, insert landed, the later redaction " +
        "applied over the merged value")
    // the merged-then-redacted row proves the seq ORDER: merge set
    // v=111 (b=5 in the redaction box), the update then nulled it
    assert(LayoutIngest.read(spark, dst).filter(col("a") === 5L)
      .select("v").as[Long].head() === -1L)
    // exactly-once across re-syncs (the replica's own merge marker)
    assert(LayoutIngest.replicate(spark, src, dst) ===
      LayoutIngest.ReplicateStats(0, 0, 0, 0))
    mid: Unit
  }

  test("a merge committed BEFORE the replica existed pulls as a " +
      "plain batch (bootstrap never re-runs removals); an IN-FLIGHT " +
      "merge holds the pull; a gap-claimed merge refuses") {
    // bootstrap-after-merge: plain pull, zero merge replays
    val srcB = freshTable("repl-merge-boot")
    LayoutIngest.mergeRowsNext(spark, srcB, "a",
      Seq((5L, 5L, 111L), (150L, 7L, 333L)).toDF("a", "b", "v")): Unit
    val dstB = srcB.stripSuffix("/t") + "/rb"
    val stB = LayoutIngest.replicate(spark, srcB, dstB)
    assert(stB.mergesReplayed === 0 && stB.batchesPulled === 3,
      s"bootstrap pulls a committed merge as a plain batch: $stB")
    assert(snap(dstB) === snap(srcB))
    // in-flight merge: fake the crash window (record + batch marker,
    // commit marker gone, intent restored) — the pull must HOLD and
    // defer statement replay; the source's owed replay then completes
    // it and the next sync converges
    val srcS = freshTable("repl-merge-stall")
    val dstS = srcS.stripSuffix("/t") + "/rs"
    LayoutIngest.replicate(spark, srcS, dstS): Unit
    val ups = Seq((7L, 7L, 444L)).toDF("a", "b", "v")
    val mid = LayoutIngest.mergeRowsNext(spark, srcS, "a", ups)
    LayoutIngest.dmlNext(spark, srcS, Boxes(Seq(Seq(("b", 90L, 99L)))), Nil): Unit
    val mk = new java.io.File(s"$srcS/markers/merge-$mid")
    assert(mk.exists() && mk.delete())
    java.nio.file.Files.write(
      new java.io.File(s"$srcS/markers/merge-$mid.intent").toPath,
      (mid - 1).toString.getBytes("UTF-8"))
    val held = LayoutIngest.replicate(spark, srcS, dstS)
    assert(held === LayoutIngest.ReplicateStats(0, 0, 0, 0),
      s"an in-flight merge must hold the pull AND the replay: $held")
    assert(LayoutIngest.mergeRows(spark, srcS, "a", ups, mid),
      "the source's owed replay must complete the merge")
    val after = LayoutIngest.replicate(spark, srcS, dstS)
    assert(after.mergesReplayed === 1 && after.dmlReplayed === 1)
    assert(snap(dstS) === snap(srcS))
    // gap-claimed merge: id minted while the ledger had a hole —
    // refused typed once the gap fills and the replica reaches it
    val srcG = freshTable("repl-merge-gap")
    val dstG = srcG.stripSuffix("/t") + "/rg"
    LayoutIngest.replicate(spark, srcG, dstG): Unit
    LayoutIngest.ingestBatch((0L to 3L).map(i => (i, i, 1L))
      .toDF("a", "b", "v"), 3L, srcG, 1): Unit // hole at 2
    LayoutIngest.mergeRows(spark, srcG, "a",
      Seq((5L, 5L, 555L)).toDF("a", "b", "v"), batchId = 4L): Unit
    LayoutIngest.ingestBatch((4L to 6L).map(i => (i, i, 2L))
      .toDF("a", "b", "v"), 2L, srcG, 1): Unit // gap fills
    val e = intercept[IllegalArgumentException](
      LayoutIngest.replicate(spark, srcG, dstG))
    assert(e.getMessage.contains("non-contiguous"))
  }

  test("a committed merge's markers FOLD with its record: history " +
      "identical, explicit-id replay still no-ops, a replica still " +
      "replays it from the log") {
    val src = freshTable("repl-merge-fold")
    val dst = src.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, src, dst): Unit // pre-merge cursor
    val ups = Seq((5L, 5L, 111L), (150L, 7L, 333L)).toDF("a", "b", "v")
    val mid = LayoutIngest.mergeRowsNext(spark, src, "a", ups)
    val before = LayoutIngest.history(spark, src)
      .select("kind", "id", "committed", "at_ms")
      .collect().map(_.toSeq).toSet
    // one statement record + the merge commit marker retire together
    assert(LayoutIngest.compactDmlMarkers(spark, src) === 2)
    val names = new java.io.File(s"$src/markers").list().toSet
    assert(!names(s"merge-$mid") && !names(s"mrg-$mid") &&
      names.count(_.startsWith("dml-log-")) === 1,
      s"merge markers must fold into the log: $names")
    assert(LayoutIngest.history(spark, src)
      .select("kind", "id", "committed", "at_ms")
      .collect().map(_.toSeq).toSet === before,
      "history must present a folded merge exactly as before " +
        "(commit-marker mtime pinned into the record)")
    assert(!LayoutIngest.mergeRows(spark, src, "a", ups, mid),
      "a folded merge id must stay a replay no-op")
    // the replica replays the folded merge from the log record
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.mergesReplayed === 1 && snap(dst) === snap(src))
  }

  test("merge-snapshot RETENTION: dropMergeSnapshots bounds the " +
      "replay state; a lagging replica refuses typed, a fresh " +
      "bootstrap still works, records and minting stay exact") {
    val src = freshTable("repl-merge-ret")
    val lag = src.stripSuffix("/t") + "/lag"
    LayoutIngest.replicate(spark, src, lag): Unit // lagging cursor = 1
    val mid = LayoutIngest.mergeRowsNext(spark, src, "a",
      Seq((5L, 5L, 111L), (150L, 7L, 333L)).toDF("a", "b", "v"))
    assert(LayoutIngest.dropMergeSnapshots(spark, src, mid) === 1)
    assert(!new java.io.File(
      s"$src/markers/mrg-$mid.updates").exists())
    // the lagging replica needs the dropped snapshot — typed refusal
    val e = intercept[IllegalArgumentException](
      LayoutIngest.replicate(spark, src, lag))
    assert(e.getMessage.contains("retention"))
    // a FRESH bootstrap pulls the merge as a plain batch — no snapshot
    val boot = src.stripSuffix("/t") + "/boot"
    val st = LayoutIngest.replicate(spark, src, boot)
    assert(st.batchesPulled === 3 && st.mergesReplayed === 0)
    assert(snap(boot) === snap(src))
    // the record and idempotence marker survive: history still shows
    // the merge, a replayed id still no-ops, minting scans past it
    assert(LayoutIngest.history(spark, src)
      .filter(col("kind") === "merge").count() === 1)
    assert(!LayoutIngest.mergeRows(spark, src, "a",
      Seq((5L, 5L, 111L)).toDF("a", "b", "v"), mid))
  }

  test("replicate refuses, typed: self-referential " +
      "assignments, pre-record markers") {
    def refuses(f: => Any, needle: String): Unit = {
      val e = intercept[Exception](f)
      assert(Option(e.getMessage).exists(_.contains(needle)),
        s"wanted '$needle', got: ${e.getMessage}")
    }
    // a self-referential update CANNOT replay exactly under
    // at-least-once replication — refused at RECORD time now (the
    // poison-record fix: the statement never reaches the log)
    val srcS = freshTable("repl-ref-self")
    val dstS = srcS.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, srcS, dstS): Unit
    refuses(LayoutIngest.dmlNext(spark, srcS,
      Boxes(Seq(Seq(("a", 0L, 9L)))), Seq("v" -> (col("v") + lit(1L)))),
      "assigned column")
    // …and the sync stays healthy afterwards (nothing was recorded)
    LayoutIngest.replicate(spark, srcS, dstS): Unit
    // defense-in-depth: the REPLAY gate still refuses a
    // self-referential record minted by a foreign/older writer —
    // simulated by doctoring a legal statement's marker on disk
    LayoutIngest.dmlNext(spark, srcS,
      Boxes(Seq(Seq(("a", 0L, 9L)))), Seq("v" -> lit(0L))): Unit
    val updMarker = new java.io.File(s"$srcS/markers")
      .listFiles().filter(_.getName.matches("upd-\\d+"))
      .maxBy(_.getName)
    val doctored = LayoutIngest.DmlRecord.serialize(
      LayoutIngest.DmlRecord("upd",
        updMarker.getName.stripPrefix("upd-").toLong,
        seq = 9L, upto = 1L, boxes = Seq(Seq(("a", 0L, 9L))),
        sets = Seq("v" -> "(v + 1)"), atMs = None))
    java.nio.file.Files.write(updMarker.toPath,
      doctored.getBytes("UTF-8"))
    // the marker was Hadoop-written (checksummed local FS) — drop the
    // now-stale .crc sidecar so the doctored bytes read back
    new java.io.File(updMarker.getParentFile,
      s".${updMarker.getName}.crc").delete(): Unit
    refuses(LayoutIngest.replicate(spark, srcS, dstS),
      "self-referential")
    // a payload-less marker (pre-record format) cannot be replayed
    val srcP = freshTable("repl-ref-prerec")
    val dstP = srcP.stripSuffix("/t") + "/r"
    assert(LayoutIngest.delete(spark, srcP,
      Boxes(Seq(Seq(("a", 0L, 0L)))), id = 3L))
    val m = new java.io.File(s"$srcP/markers/del-3")
    java.nio.file.Files.write(m.toPath, Array.empty[Byte])
    refuses(LayoutIngest.replicate(spark, srcP, dstP),
      "predates")
  }

  test("replication TORTURE: seeded random interleavings of appends, " +
      "deletes, redactions, merges and mid-stream syncs all converge") {
    (0 until 5).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val src = freshTable(s"repl-torture-$seed", 0 to 79)
      val dst = src.stripSuffix("/t") + "/r"
      var nextKey = 200L
      def randBox() = {
        val lo = rnd.nextInt(90).toLong
        Seq(Seq(("b", lo, lo + 2 + rnd.nextInt(20))))
      }
      // start some runs mid-history so the replica holds pre-statement
      // bytes for later ops
      if (rnd.nextBoolean()) LayoutIngest.replicate(spark, src, dst): Unit
      (0 until 10).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 =>
            val base = nextKey
            nextKey += 5
            LayoutIngest.appendNext(spark, src,
              (base until base + 5).map(i => (i, i % 100, i))
                .toDF("a", "b", "v"), filesPerBatch = 1): Unit
          case 1 =>
            LayoutIngest.dmlNext(spark, src, Boxes(randBox()), Nil): Unit
          case 2 =>
            // idempotent-safe redaction (reads no assigned column)
            LayoutIngest.dmlNext(spark, src, Boxes(randBox()),
              Seq("v" -> lit(rnd.nextInt(1000).toLong))): Unit
          case 3 =>
            // some existing keys (replace), some fresh (insert)
            val hit = rnd.nextInt(80).toLong
            val fresh = { nextKey += 1; nextKey - 1 }
            LayoutIngest.mergeRowsNext(spark, src, "a",
              Seq((hit, hit, 9999L), (fresh, fresh % 100, 8888L))
                .toDF("a", "b", "v")): Unit
          case 4 =>
            LayoutIngest.replicate(spark, src, dst): Unit
        }
      }
      LayoutIngest.replicate(spark, src, dst): Unit
      assert(LayoutIngest.replicate(spark, src, dst) ===
        LayoutIngest.ReplicateStats(0, 0, 0, 0),
        s"seed $seed: a second sync after convergence must be empty")
      assert(snap(dst) === snap(src),
        s"seed $seed: replica must converge to the source through " +
          "the random statement interleaving")
    }
  }

  test("updateBoxes on a SCHEMA-LESS table refuses an unknown " +
      "column typed (no silent projection no-op)") {
    val t = freshTable("updnoschema")
    // simulate a legacy table written before publishSchema
    val sd = new java.io.File(s"$t/schema")
    assert(sd.exists())
    sd.listFiles().foreach(_.delete())
    assert(sd.delete())
    val e = intercept[IllegalArgumentException](
      LayoutIngest.update(spark, t, Boxes(Seq(Seq(("a", 0L, 9L)))),
        Seq("v_typo" -> lit(0L)), id = 0L))
    assert(e.getMessage.contains("unknown column 'v_typo'"))
    // a REAL column still updates (the fallback reads the served
    // columns, not nothing)
    assert(LayoutIngest.update(spark, t, Boxes(Seq(Seq(("a", 0L, 9L)))),
      Seq("v" -> lit(1L)), id = 0L))
    assert(LayoutIngest.read(spark, t).filter(col("a") <= 9L)
      .select("v").as[Long].collect().toSet === Set(1L))
  }

  /** Fresh string-keyed table: doc = "doc-<i>" (bloom-indexed), one
    * NULL-keyed row, v = i*10; two single-file batches split at 50. */
  private def freshKeyedTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    val t = d.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("doc")))
    def frame(r: Range) = r.map(i =>
        (i.toLong, i.toLong, if (i == 7) null else s"doc-$i", i * 10L))
      .toDF("a", "b", "doc", "v")
    LayoutIngest.ingestBatch(frame(0 to 49), 0L, t, 1): Unit
    LayoutIngest.ingestBatch(frame(50 to 99), 1L, t, 1): Unit
    t
  }

  test("deleteKeys removes exactly the keyed rows, bloom-prunes the " +
      "unit selection, keeps NULL-keyed rows, and is idempotent") {
    val t = freshKeyedTable("delk-api")
    // doc-10 lives in batch 0's unit only; batch 1's bloom excludes it
    assert(LayoutIngest.delete(spark, t, Keys("doc", Seq("doc-10")),
      id = 0L))
    val rewritten = Option(new java.io.File(s"$t/data").list()).get
      .count(_.startsWith("gen-delk0-"))
    assert(rewritten === 1,
      s"bloom must exempt the other unit, rewrote $rewritten")
    val docs = LayoutIngest.read(spark, t)
      .select("doc").as[Option[String]].collect()
    assert(docs.length === 99 && !docs.contains(Some("doc-10")))
    assert(docs.count(_.isEmpty) === 1, "the NULL-keyed row is KEPT")
    // replay of the same id is a marker no-op
    assert(!LayoutIngest.delete(spark, t, Keys("doc", Seq("doc-10")), 0L))
    // a second statement auto-mints past the first; multi-key +
    // record-hostile key content (tab/newline/unicode) round-trips
    LayoutIngest.ingestBatch(
      Seq((3L, 3L, "we\tird\nkeyé", 1L)).toDF("a", "b", "doc", "v"),
      2L, t, 1): Unit
    val id = LayoutIngest.dmlNext(spark, t, Keys("doc",
      Seq("doc-20", "we\tird\nkeyé", "absent")), Nil)
    assert(id === 1L)
    val left = LayoutIngest.read(spark, t)
      .select("doc").as[Option[String]].collect()
    assert(left.length === 98 &&
      !left.contains(Some("doc-20")) &&
      !left.contains(Some("we\tird\nkeyé")))
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "delete_keys").count() === 2L)
    // long keys work through the same surface (stats + bloom types)
    val tl = freshTable("delk-long")
    assert(LayoutIngest.delete(spark, tl, Keys("a", Seq(5L, 95L)), 0L))
    assert(LayoutIngest.read(spark, tl).select("a").as[Long]
      .collect().toSet === ((0L to 99L).toSet -- Set(5L, 95L)))
    // refusals: null key, unknown column, mistyped keys
    intercept[IllegalArgumentException](
      LayoutIngest.delete(spark, t, Keys("doc", Seq("x", null)), 9L))
    intercept[IllegalArgumentException](
      LayoutIngest.delete(spark, t, Keys("nope", Seq("x")), 9L))
    intercept[IllegalArgumentException](
      LayoutIngest.delete(spark, t, Keys("v", Seq("x")), 9L))
  }

  test("a keyed delete REPLAYS on replicas scoped to the batches it " +
      "saw; fresh bootstraps stamp; chained replicas converge; the " +
      "fold keeps it replayable") {
    val src = freshKeyedTable("delk-repl")
    val dst = src.stripSuffix("/t") + "/r"
    val dst3 = src.stripSuffix("/t") + "/r3"
    assert(LayoutIngest.replicate(spark, src, dst).batchesPulled === 2)
    assert(LayoutIngest.replicate(spark, dst, dst3).batchesPulled === 2)
    // the statement; then the SAME key re-appears in a LATER batch —
    // the upto scope must keep the re-added row alive on every replica
    assert(LayoutIngest.delete(spark, src, Keys("doc",
      Seq("doc-30", "doc-77")), id = 0L))
    LayoutIngest.ingestBatch(
      Seq((30L, 30L, "doc-30", 999L)).toDF("a", "b", "doc", "v"),
      2L, src, 1): Unit
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 1 && st.dmlReplayed === 1,
      s"one pull + one keyed replay, got $st")
    assert(snapKeyed(dst) === snapKeyed(src),
      "replica must equal source bytes (keys deleted, re-add kept)")
    assert(LayoutIngest.read(spark, dst).filter(col("doc") === "doc-30")
      .count() === 1L, "the re-added doc-30 survives the scoped replay")
    // fresh bootstrap: statement stamps applied without rewriting
    val dst2 = src.stripSuffix("/t") + "/r2"
    val st2 = LayoutIngest.replicate(spark, src, dst2)
    assert(st2.dmlSkippedAsBootstrap === 1 && st2.batchesPulled === 3,
      s"got $st2")
    assert(snapKeyed(dst2) === snapKeyed(src))
    // chained: dst3 replays the keyed statement out of dst's sdml
    // record (the payload tag, not the kind, marks it)
    val st3 = LayoutIngest.replicate(spark, dst, dst3)
    assert(st3.dmlReplayed === 1 && st3.batchesPulled === 1,
      s"chained keyed replay, got $st3")
    assert(snapKeyed(dst3) === snapKeyed(src))
    // the marker fold keeps the record replayable: fold on the source,
    // a brand-new replica still refuses nothing and converges
    LayoutIngest.compactDmlMarkers(spark, src): Unit
    assert(!new java.io.File(s"$src/markers/delk-0").exists(),
      "premise: the fold retired the live delk marker")
    val dst4 = src.stripSuffix("/t") + "/r4"
    LayoutIngest.replicate(spark, src, dst4): Unit
    assert(snapKeyed(dst4) === snapKeyed(src))
  }

  private def snapKeyed(dir: String)
      : Set[(Long, Long, Option[String], Long, Long, Long)] =
    LayoutIngest.readSince(spark, dir, -1L)
      .select("a", "b", "doc", "v", "zkey", "__batch")
      .as[(Long, Long, Option[String], Long, Long, Long)].collect().toSet

  test("every DML kind writes its marker body byte for byte: the six " +
      "source kinds, their sdml replays, and chained replays") {
    // driven through SQL and replicate() only, so the same spec runs
    // against any build of the verbs behind them
    val src = freshKeyedTable("dml-format")
    val dst = src.stripSuffix("/t") + "/r"
    val dst2 = src.stripSuffix("/t") + "/r2"
    LayoutIngest.replicate(spark, src, dst): Unit
    LayoutIngest.replicate(spark, dst, dst2): Unit
    spark.read.format("graft-layout").load(src)
      .createOrReplaceTempView("fmt_src")
    Seq(
      "DELETE FROM fmt_src WHERE a BETWEEN 10 AND 12 OR b = 90",
      "UPDATE fmt_src SET v = -1 WHERE a >= 20 AND a < 23",
      "DELETE FROM fmt_src WHERE doc IN ('doc-30', 'doc-61', 'x y/é')",
      "UPDATE fmt_src SET v = 0 WHERE doc = 'doc-40' OR doc = 'doc-41'",
      "DELETE FROM fmt_src WHERE doc LIKE 'doc-5%'",
      "UPDATE fmt_src SET v = b + 1 WHERE doc >= 'doc-80' AND " +
        "doc < 'doc-85'"
    ).foreach(spark.sql)
    LayoutIngest.replicate(spark, src, dst): Unit
    LayoutIngest.replicate(spark, dst, dst2): Unit
    def body(dir: String, marker: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/markers/$marker")), "UTF-8")
    val dirs = Map("src" -> src, "r" -> dst, "r2" -> dst2)
    // every statement marker on the three tables, and nothing else
    val listed = dirs.toSeq.flatMap { case (l, d) =>
      new java.io.File(s"$d/markers").list().toSeq
        .filter(_.matches("(del|upd|delk|updk|dels|upds|sdml)-\\d+"))
        .map(l -> _)
    }
    val want: Seq[(String, String, String)] = Seq(
      ("src", "del-0",
        "graft-dml v1 del 0 0 1\n" +
        "B\ta\t10\t12\n" +
        "B\tb\t90\t90"),
      ("src", "delk-0",
        "graft-dml v1 delk 0 2 1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-30\n" +
        "S\tk\tdoc-61\n" +
        "S\tk\tx+y%2F%C3%A9"),
      ("src", "dels-0",
        "graft-dml v1 dels 0 4 1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tpfx\tdoc-5"),
      ("src", "upd-0",
        "graft-dml v1 upd 0 1 1\n" +
        "B\ta\t20\t22\n" +
        "S\tv\tCAST(-1 AS BIGINT)"),
      ("src", "updk-0",
        "graft-dml v1 updk 0 3 1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-40\n" +
        "S\tk\tdoc-41\n" +
        "S\tset\tv CAST%280+AS+BIGINT%29"),
      ("src", "upds-0",
        "graft-dml v1 upds 0 5 1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tlo\ti doc-80\n" +
        "S\thi\tx doc-85\n" +
        "S\tset\tv %28b+%2B+CAST%281+AS+BIGINT%29%29"),
      ("r", "sdml-0",
        "graft-dml v1 sdml 0 0 1\n" +
        "B\ta\t10\t12\t__batch\t-9223372036854775808\t1\n" +
        "B\tb\t90\t90\t__batch\t-9223372036854775808\t1"),
      ("r", "sdml-1",
        "graft-dml v1 sdml 1 1 1\n" +
        "B\ta\t20\t22\t__batch\t-9223372036854775808\t1\n" +
        "S\tv\tCAST(-1 AS BIGINT)"),
      ("r", "sdml-2",
        "graft-dml v1 sdml 2 2 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-30\n" +
        "S\tk\tdoc-61\n" +
        "S\tk\tx+y%2F%C3%A9"),
      ("r", "sdml-3",
        "graft-dml v1 sdml 3 3 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-40\n" +
        "S\tk\tdoc-41\n" +
        "S\tset\tv CAST%280+AS+BIGINT%29"),
      ("r", "sdml-4",
        "graft-dml v1 sdml 4 4 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tpfx\tdoc-5"),
      ("r", "sdml-5",
        "graft-dml v1 sdml 5 5 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tlo\ti doc-80\n" +
        "S\thi\tx doc-85\n" +
        "S\tset\tv %28b+%2B+CAST%281+AS+BIGINT%29%29"),
      ("r2", "sdml-0",
        "graft-dml v1 sdml 0 0 1\n" +
        "B\ta\t10\t12\t__batch\t-9223372036854775808\t1\t__batch\t-9223372036854775808\t1\n" +
        "B\tb\t90\t90\t__batch\t-9223372036854775808\t1\t__batch\t-9223372036854775808\t1"),
      ("r2", "sdml-1",
        "graft-dml v1 sdml 1 1 1\n" +
        "B\ta\t20\t22\t__batch\t-9223372036854775808\t1\t__batch\t-9223372036854775808\t1\n" +
        "S\tv\tCAST(-1 AS BIGINT)"),
      ("r2", "sdml-2",
        "graft-dml v1 sdml 2 2 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-30\n" +
        "S\tk\tdoc-61\n" +
        "S\tk\tx+y%2F%C3%A9"),
      ("r2", "sdml-3",
        "graft-dml v1 sdml 3 3 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_keyed_dml\tdoc\n" +
        "S\t__graft_key_type\tstring\n" +
        "S\tk\tdoc-40\n" +
        "S\tk\tdoc-41\n" +
        "S\tset\tv CAST%280+AS+BIGINT%29"),
      ("r2", "sdml-4",
        "graft-dml v1 sdml 4 4 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tpfx\tdoc-5"),
      ("r2", "sdml-5",
        "graft-dml v1 sdml 5 5 1\n" +
        "B\t__batch\t-9223372036854775808\t1\n" +
        "S\t__graft_str_range_dml\tdoc\n" +
        "S\tlo\ti doc-80\n" +
        "S\thi\tx doc-85\n" +
        "S\tset\tv %28b+%2B+CAST%281+AS+BIGINT%29%29"))
    assert(listed.toSet === want.map(w => (w._1, w._2)).toSet)
    want.foreach { case (d, m, b) =>
      assert(body(dirs(d), m) === b, s"$d/markers/$m")
    }
    // merges: a whole-row SQL MERGE INTO (ledger id 2) and a gated
    // WHEN NOT MATCHED BY SOURCE delete (id 3) record `mrg-<id>`; the
    // replicas replay both under the source ids and record their own
    Seq((30L, 30L, "m-30", 1L), (98L, 98L, "m-98", 2L))
      .toDF("a", "b", "doc", "v").createOrReplaceTempView("fmt_msrc")
    val mergeSql = """MERGE INTO fmt_src USING fmt_msrc
      ON fmt_src.a = fmt_msrc.a
      WHEN MATCHED THEN UPDATE SET a = fmt_msrc.a, b = fmt_msrc.b,
        doc = fmt_msrc.doc, v = fmt_msrc.v
      WHEN NOT MATCHED THEN INSERT (a, b, doc, v)
        VALUES (fmt_msrc.a, fmt_msrc.b, fmt_msrc.doc, fmt_msrc.v)"""
    spark.sql(mergeSql)
    spark.sql(mergeSql +
      "\n      WHEN NOT MATCHED BY SOURCE AND fmt_src.v < 50 THEN DELETE")
    LayoutIngest.replicate(spark, src, dst): Unit
    LayoutIngest.replicate(spark, dst, dst2): Unit
    val gate = "S\t__graft_unmatched_del\t%28v+%3C+50L%29"
    val wantMrg = Seq(
      ("src", "mrg-2", "graft-dml v1 mrg 2 6 1\nS\ta\tmerge-key"),
      ("src", "mrg-3", s"graft-dml v1 mrg 3 7 2\nS\ta\tmerge-key\n$gate"),
      ("r", "mrg-2", "graft-dml v1 mrg 2 6 1\nS\ta\tmerge-key"),
      ("r", "mrg-3", s"graft-dml v1 mrg 3 7 2\nS\ta\tmerge-key\n$gate"),
      ("r2", "mrg-2", "graft-dml v1 mrg 2 6 1\nS\ta\tmerge-key"),
      ("r2", "mrg-3", s"graft-dml v1 mrg 3 7 2\nS\ta\tmerge-key\n$gate"))
    val listedMrg = dirs.toSeq.flatMap { case (l, d) =>
      new java.io.File(s"$d/markers").list().toSeq
        .filter(_.matches("mrg-\\d+")).map(l -> _)
    }
    assert(listedMrg.toSet === wantMrg.map(w => (w._1, w._2)).toSet)
    wantMrg.foreach { case (d, m, b) =>
      assert(body(dirs(d), m) === b, s"$d/markers/$m")
    }
    assert(snapKeyed(dst2) === snapKeyed(src) &&
      snapKeyed(dst) === snapKeyed(src),
      "both replicas replay the merges to the source bytes")
  }

  test("updateKeys redacts by doc id: bloom-pruned in place, NULL " +
      "rows kept, SQL routes string point WHEREs to it, replicas " +
      "replay it scoped") {
    val src = freshKeyedTable("updk")
    val dst = src.stripSuffix("/t") + "/r"
    assert(LayoutIngest.replicate(spark, src, dst).batchesPulled === 2)
    // SQL: a string point WHERE routes to the KEYED update; both keys
    // live in batch 0's unit — the other unit's bloom exempts it
    spark.read.format("graft-layout").load(src)
      .createOrReplaceTempView("updk_t")
    spark.sql("UPDATE updk_t SET v = -1 " +
      "WHERE doc IN ('doc-10', 'doc-20', NULL)")
    assert(LayoutIngest.history(spark, src)
      .filter(col("kind") === "update_keys").count() === 1L)
    assert(LayoutIngest.history(spark, src)
      .filter(col("kind") === "update").count() === 0L,
      "must be a keyed op, not a box op")
    val rewritten = Option(new java.io.File(s"$src/data").list()).get
      .count(_.startsWith("gen-updk0-"))
    assert(rewritten === 1,
      s"bloom must exempt batch 1's unit, rewrote $rewritten")
    val vByDoc = LayoutIngest.read(spark, src)
      .select("doc", "v").as[(Option[String], Long)].collect().toMap
    assert(vByDoc(Some("doc-10")) === -1L &&
      vByDoc(Some("doc-20")) === -1L)
    assert(vByDoc(Some("doc-11")) === 110L, "non-keyed rows untouched")
    assert(vByDoc(None) === 70L, "the NULL-keyed row is KEPT untouched")
    // the same key re-appears in a LATER batch; the replica replay's
    // upto scope must leave the new row unredacted
    LayoutIngest.ingestBatch(
      Seq((10L, 10L, "doc-10", 999L)).toDF("a", "b", "doc", "v"),
      2L, src, 1): Unit
    val st = LayoutIngest.replicate(spark, src, dst)
    assert(st.batchesPulled === 1 && st.dmlReplayed === 1, s"got $st")
    assert(snapKeyed(dst) === snapKeyed(src),
      "replica ≡ source bytes (old doc-10 redacted, re-added kept)")
    // fresh bootstrap stamps without evaluating
    val dst2 = src.stripSuffix("/t") + "/r2"
    val st2 = LayoutIngest.replicate(spark, src, dst2)
    assert(st2.dmlSkippedAsBootstrap === 1)
    assert(snapKeyed(dst2) === snapKeyed(src))
    // refusals: key-column assignment, grid column, env-bound value
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains(needle)),
        s"$sql -> ${msgs(e).mkString(" | ")}")
    }
    refuses("UPDATE updk_t SET doc = 'x' WHERE doc = 'doc-30'",
      "rewriting row identity")
    refuses("UPDATE updk_t SET a = 0 WHERE doc = 'doc-30'",
      "not assignable in place")
    refuses("UPDATE updk_t SET v = cast(rand()*9 as bigint) " +
      "WHERE doc = 'doc-30'", "evaluation environment")
    // the API twin with LONG keys and a row-reading assignment
    val tl = freshTable("updk-long")
    assert(LayoutIngest.update(spark, tl, Keys("a", Seq(5L, 7L)),
      Seq("v" -> (col("b") * 1000L)), id = 0L))
    val got = LayoutIngest.read(spark, tl)
      .select("a", "v").as[(Long, Long)].collect().toMap
    assert(got(5L) === 5000L && got(7L) === 7000L && got(6L) === 60L)
  }

  test("REPLICAS are read-only TYPED until promoted; promotion fences " +
      "the sync and opens local writes above the mirrored ledger") {
    def refuses(f: => Any, needle: String): Unit = {
      val e = intercept[Exception](f)
      assert(Option(e.getMessage).exists(_.contains(needle)),
        s"wanted '$needle', got: ${e.getMessage}")
    }
    val src = freshTable("promo-src")
    val dst = src.stripSuffix("/t") + "/r"
    assert(LayoutIngest.replicate(spark, src, dst).batchesPulled === 2)
    // every local mutator refuses typed on the un-promoted replica
    refuses(LayoutIngest.ingestBatch(
      Seq((1L, 1L, 1L)).toDF("a", "b", "v"), 2L, dst, 1), "REPLICA")
    refuses(LayoutIngest.delete(spark, dst,
      Boxes(Seq(Seq(("a", 0L, 9L)))), 0L), "REPLICA")
    refuses(LayoutIngest.delete(spark, dst, Keys("a", Seq(1L)), 0L),
      "REPLICA")
    refuses(LayoutIngest.update(spark, dst, Boxes(Seq(Seq(("a", 0L, 9L)))),
      Seq("v" -> lit(0L)), 0L), "REPLICA")
    refuses(LayoutIngest.mergeRows(spark, dst, "a",
      Seq((1L, 1L, 1L)).toDF("a", "b", "v"), 9L), "REPLICA")
    // ...but the SYNC still writes (it is the one legitimate writer)
    LayoutIngest.delete(spark, src, Boxes(Seq(Seq(("a", 0L, 4L)))), 0L): Unit
    assert(LayoutIngest.replicate(spark, src, dst).dmlReplayed === 1)
    // promotion on a non-replica refuses
    refuses(LayoutIngest.promoteReplica(spark, src), "not a replica")
    // promote: returns the fenced watermark, idempotent — through the
    // API and the SQL ops verb
    assert(LayoutIngest.promoteReplica(spark, dst) === 1L)
    assert(LayoutIngest.promoteReplica(spark, dst) === 1L)
    assert(spark.sql(s"SELECT * FROM graft_promote('$dst')")
      .head().getLong(0) === 1L)
    // further syncs refuse typed — the promoted table owns its
    // ledger — and the refusal NAMES the sanctioned re-subscription
    // (rebuild into a fresh dir; promotion is one-way)
    refuses(LayoutIngest.replicate(spark, src, dst), "PROMOTED")
    refuses(LayoutIngest.replicate(spark, src, dst), "REBUILD")
    refuses(LayoutIngest.replicate(spark, src, dst), "FRESH dir")
    // local writes mint ABOVE the mirrored prefix and work end to end
    val id = LayoutIngest.appendNext(spark, dst,
      Seq((200L, 0L, 0L)).toDF("a", "b", "v"), 1)
    assert(id === 2L, s"first local id above the mirrored prefix, got $id")
    LayoutIngest.dmlNext(spark, dst, Boxes(Seq(Seq(("a", 5L, 9L)))), Nil): Unit
    val left = LayoutIngest.read(spark, dst)
      .select("a").as[Long].collect().toSet
    assert(left === ((10L to 99L).toSet + 200L),
      "source's delete [0,4] replayed pre-promote; local [5,9] delete " +
        "and local append both applied post-promote")
    assert(LayoutIngest.history(spark, dst)
      .filter(col("kind") === "ingest").count() >= 1L)
  }

  test("a promotion landing MID-SYNC fences the statement-replay " +
      "phase: source DML never applies to the just-promoted table") {
    val src = freshTable("promo-midsync-src")
    val dst = src.stripSuffix("/t") + "/r"
    assert(LayoutIngest.replicate(spark, src, dst).batchesPulled === 2)
    // a source statement the NEXT sync would replay
    LayoutIngest.dmlNext(spark, src, Boxes(Seq(Seq(("a", 0L, 9L)))),
      Seq("v" -> lit(-5L))): Unit
    // the race window: replicate() passed its ENTRY check, then a
    // promotion landed before the replay phase — simulated by driving
    // the body directly with the fence already on disk
    assert(LayoutIngest.promoteReplica(spark, dst) === 1L)
    val e = intercept[Exception](
      LayoutIngest.replicateBody(spark, src, dst, 4, 1000L))
    assert(Option(e.getMessage).exists(_.contains("promoted mid-sync")),
      s"got: ${e.getMessage}")
    // nothing replayed: the promoted table keeps its pre-statement
    // bytes and carries no sdml record
    assert(LayoutIngest.read(spark, dst).filter(col("v") === -5L)
      .count() === 0L, "source DML leaked onto a promoted table")
    assert(LayoutIngest.history(spark, dst)
      .filter(col("kind") === "replay").count() === 0L)
  }

  test("keyed-statement bloom probing is BUDGET-capped (keys x " +
      "units): above it the selection falls back to stats/scope " +
      "pruning — exact, conservative, bounded driver work") {
    val t = freshTable("keyed-budget") // 2 units: a in [0,50] / [51,99]
    val b0 = LayoutIngest.KeyedBloomProbeBudget
    val s0 = LayoutIngest.keyedBloomBudgetSkips
    LayoutIngest.KeyedBloomProbeBudget = 4L // 3 keys x 2 units = 6 > 4
    try {
      assert(LayoutIngest.delete(spark, t, Keys("a", Seq(5L, 7L, 9L)),
        id = 0L))
      assert(LayoutIngest.keyedBloomBudgetSkips === s0 + 1,
        "the over-budget statement must skip bloom probing")
      assert(LayoutIngest.read(spark, t).select("a").as[Long]
        .collect().toSet === ((0L to 99L).toSet -- Set(5L, 7L, 9L)),
        "budget fallback never changes results")
      // stats-range pruning STILL applies under the fallback: the
      // [51,99] unit's range misses [5,9], so only one unit rewrote
      val rewritten = Option(new java.io.File(s"$t/data").list()).get
        .count(_.startsWith("gen-delk0-"))
      assert(rewritten === 1,
        s"stats pruning must survive the bloom skip, rewrote $rewritten")
    } finally LayoutIngest.KeyedBloomProbeBudget = b0
  }

  test("NOT MATCHED BY SOURCE deletes are ONE atomic merge: NULL-" +
      "keyed target rows follow SQL MERGE semantics (deleted), an " +
      "empty source is a gated full-table delete, and replicas " +
      "converge by replaying the recorded flag from the snapshot") {
    val t = freshTable("nmbs-repl") // a = 0..99, v = a*10
    val dst = t.stripSuffix("/t") + "/r"
    assert(LayoutIngest.replicate(spark, t, dst).batchesPulled === 2)
    // a NULL-keyed row (merge will key on v): SQL MERGE semantics say
    // it matches nothing → "not matched by source" → deleted
    LayoutIngest.appendNext(spark, t,
      Seq((90L, 90L, None: Option[Long])).toDF("a", "b", "v"), 1): Unit
    LayoutIngest.replicate(spark, t, dst): Unit
    // FULL SYNC keyed on v: keep only a < 50 (replaced byte-for-byte),
    // delete every unmatched row including the NULL-keyed one
    val updates = (0L until 50L).map(i => (i, i, i * 10))
      .toDF("a", "b", "v")
    LayoutIngest.mergeRowsNext(spark, t, "v", updates,
      dropUnmatched = Some(LayoutIngest.UnmatchedDelete(None))): Unit
    val left = LayoutIngest.read(spark, t)
      .select("a").as[Long].collect().toSet
    assert(left === (0L until 50L).toSet,
      "unmatched rows (a >= 50) AND the NULL-keyed row deleted")
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "merge").count() === 1L,
      "one atomic ledger op")
    // EMPTY source + gate: nothing appends, every row is unmatched,
    // the gate decides — a gated retention sweep through MERGE
    LayoutIngest.mergeRowsNext(spark, t, "v",
      Seq.empty[(Long, Long, Long)].toDF("a", "b", "v"),
      dropUnmatched = Some(LayoutIngest.UnmatchedDelete(
        Some(col("a") >= 40L)))): Unit
    assert(LayoutIngest.read(spark, t)
      .select("a").as[Long].collect().toSet === (0L until 40L).toSet,
      "empty-source gated sync deletes exactly the gated rows")
    // both merges replay on the replica from their records/snapshots
    val st = LayoutIngest.replicate(spark, t, dst)
    assert(st.mergesReplayed === 2, s"got $st")
    assert(snap(dst) === snap(t), "replica ≡ source bytes")
    // the gate is recorded — environment-bound gates refuse at
    // record time, so no poison record can reach a replica
    val e = intercept[IllegalArgumentException](
      LayoutIngest.mergeRowsNext(spark, t, "v",
        Seq.empty[(Long, Long, Long)].toDF("a", "b", "v"),
        dropUnmatched = Some(LayoutIngest.UnmatchedDelete(
          Some(rand() < 0.5)))))
    assert(e.getMessage.contains("evaluation environment"),
      e.getMessage)
  }

  test("mergeRowsChunkedNext splits a too-large merge into disjoint " +
      "key-bucket sub-merges; a replica converges by replaying them") {
    val t = freshTable("chunked-merge")
    val dst = t.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, t, dst): Unit
    // 60 keys against a 25-key cap → >= 3 sub-merges, each its own
    // recorded ledger op; 50 matched replacements + 10 inserts
    val updates = (25L to 84L).map(i => (i, i, i * 1000L))
      .toDF("a", "b", "v")
    val ids = LayoutIngest.mergeRowsChunkedNext(spark, t, "a", updates,
      maxKeysPerMerge = 25)
    assert(ids.size >= 3 && ids == ids.sorted,
      s"disjoint sub-merges in commit order, got $ids")
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "merge").count() === ids.size.toLong)
    val want = ((0L to 24L).map(i => i -> (i * 10L)) ++
      (25L to 84L).map(i => i -> (i * 1000L)) ++
      (85L to 99L).map(i => i -> (i * 10L))).toMap
    val got = LayoutIngest.read(spark, t)
      .select("a", "v").as[(Long, Long)].collect().toMap
    assert(got === want, "exactly the 60 keys replaced/inserted once")
    // a small merge stays ONE statement through the same surface
    val one = LayoutIngest.mergeRowsChunkedNext(spark, t, "a",
      Seq((5L, 5L, 42L)).toDF("a", "b", "v"), maxKeysPerMerge = 25)
    assert(one.size === 1)
    // the replica replays every sub-merge at its position
    val st = LayoutIngest.replicate(spark, t, dst)
    assert(st.mergesReplayed === ids.size + 1, s"got $st")
    assert(snap(dst) === snap(t), "replica ≡ source bytes")
  }

  test("dml-log cache: fingerprint-keyed, exact across folds (no " +
      "behavior change), hit on unchanged logs; a just-written log " +
      "(coarse-mtime window) is never served from cache") {
    val t = freshTable("dmllog-cache")
    LayoutIngest.delete(spark, t, Boxes(Seq(Seq(("a", 0L, 1L)))), 0L): Unit
    LayoutIngest.dmlNext(spark, t, Boxes(Seq(Seq(("a", 90L, 99L)))),
      Seq("v" -> lit(-1L))): Unit
    val beforeFold = LayoutIngest.history(spark, t).collect()
      .map(_.toString).sorted.toSeq
    // fold → the records move into dml-log-0; history identical
    assert(LayoutIngest.compactDmlMarkers(spark, t) > 0)
    // inside the mtime slack window the fingerprint is not decisive
    // (a same-second same-length rewrite would be invisible) — reads
    // must BYPASS the cache, not risk serving stale (slack widened so
    // a slow box cannot let the window lapse mid-assertion)
    val slack0 = LayoutIngest.DmlLogMtimeSlackMs
    LayoutIngest.DmlLogMtimeSlackMs = 3600000L
    val hFresh = LayoutIngest.dmlLogCacheHits
    LayoutIngest.history(spark, t).collect()
    LayoutIngest.history(spark, t).collect()
    assert(LayoutIngest.dmlLogCacheHits === hFresh,
      "a log inside the mtime slack window must not be served " +
        "from cache")
    // settled logs hit (the spec pins the path without waiting the
    // window out)
    LayoutIngest.DmlLogMtimeSlackMs = 0L
    try {
      LayoutIngest.history(spark, t).collect(): Unit // prime
      val h0 = LayoutIngest.dmlLogCacheHits
      val afterFold = LayoutIngest.history(spark, t).collect()
        .map(_.toString).sorted.toSeq
      assert(afterFold === beforeFold, "the fold changes no facts")
      // unchanged log → the next reads hit the cache
      LayoutIngest.history(spark, t).collect()
      assert(LayoutIngest.dmlLogCacheHits > h0,
        "re-reads of an unchanged dml-log must hit the cache")
    } finally LayoutIngest.DmlLogMtimeSlackMs = slack0
    // a NEW statement + fold mints a new log → miss → fresh parse,
    // and the facts stay exact
    LayoutIngest.dmlNext(spark, t, Boxes(Seq(Seq(("a", 50L, 50L)))), Nil): Unit
    assert(LayoutIngest.compactDmlMarkers(spark, t) > 0)
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "delete").count() === 2L)
    assert(LayoutIngest.read(spark, t).select("a").as[Long]
      .collect().toSet === ((2L to 99L).toSet - 50L))
  }

  test("environment-bound assignments refuse at RECORD time (API), " +
      "and a foreign writer's record refuses at REPLAY time") {
    def refuses(f: => Any, needle: String): Unit = {
      val e = intercept[Exception](f)
      assert(Option(e.getMessage).exists(_.contains(needle)),
        s"wanted '$needle', got: ${e.getMessage}")
    }
    val t = freshTable("repl-envbound")
    // record time: the statement's value would re-evaluate per unit
    // rewrite and at replica replay — refused before any mutation
    refuses(LayoutIngest.update(spark, t, Boxes(Seq(Seq(("a", 0L, 9L)))),
        Seq("v" -> expr("cast(current_timestamp() as bigint)")),
        id = 0L),
      "evaluation environment")
    refuses(LayoutIngest.update(spark, t, Boxes(Seq(Seq(("a", 0L, 9L)))),
        Seq("v" -> expr("cast(rand() * 100 as bigint)")),
        id = 0L),
      "evaluation environment")
    assert(LayoutIngest.history(spark, t)
      .filter(col("kind") === "update").count() === 0L,
      "a refused statement must not burn an update id")
    // replay time (defense in depth — current writers cannot mint such
    // a record): a hand-written foreign record assigning now() must
    // refuse on a NON-fresh replica instead of silently diverging it
    val dst = t.stripSuffix("/t") + "/r"
    LayoutIngest.replicate(spark, t, dst): Unit
    val rec = LayoutIngest.DmlRecord("upd", 0L, 0L, 1L,
      Seq(Seq(("a", 0L, 9L))),
      Seq(("v", "CAST(now() AS BIGINT)")), None)
    java.nio.file.Files.write(
      new java.io.File(s"$t/markers/upd-0").toPath,
      LayoutIngest.DmlRecord.serialize(rec).getBytes("UTF-8"))
    refuses(LayoutIngest.replicate(spark, t, dst),
      "evaluation environment")
    // a FRESH bootstrap never evaluates the assignment — the record
    // stamps applied (its effects are in every pulled byte)
    val fresh = t.stripSuffix("/t") + "/r2"
    val st = LayoutIngest.replicate(spark, t, fresh)
    assert(st.dmlSkippedAsBootstrap === 1,
      s"fresh bootstrap stamps the record without evaluating, got $st")
  }
}
