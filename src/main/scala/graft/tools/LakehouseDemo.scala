package graft.tools

import graft.GraftSession
import graft.streaming.LayoutIngest
import org.apache.spark.sql.functions._

/** End-to-end drive of the clustered-table surface on the real event
  * log — the lifecycle a 100 TB deployment runs, at demo scale:
  * bootstrap (fixed grid + blooms) → batch ingests (one adding a NEW
  * payload column mid-stream) → range-split fold → CDC tail read →
  * bloom point lookups → box scan → right-to-be-forgotten delete →
  * as-of read (must NOT resurrect) → regrid into a wider domain →
  * describe. Prints per-stage counts and the pruning evidence; exits
  * nonzero on any broken invariant.
  *
  * `runMain graft.tools.LakehouseDemo [sfDir]` (default sf0.001).
  */
object LakehouseDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("local[8]", 8)
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("lakehouse-demo")
      .toFile.getAbsolutePath
    val dir = s"$base/events_table"
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select($"event_id", $"user_id",
        unix_micros($"ts".cast("timestamp")).as("ts_us"),
        $"event_type", $"value")
    val n = ev.count()
    val b = ev.agg(min("user_id"), max("user_id"),
      min("ts_us"), max("ts_us"), min("event_id"), max("event_id")).head()
    val (umn, umx) = (b.getLong(0), b.getLong(1))
    val (tmn, tmx) = (b.getLong(2), b.getLong(3))
    println(s"[demo] events rows=$n user_id=[$umn,$umx]")
    // every synthetic event id sits above the input's ids, so the DML
    // aimed at synthetic rows can never touch an input row at any scale
    val (idMin, synth) = (b.getLong(4), b.getLong(5) + 1)
    val (sqlInsId, condId, blockedId) = (synth + 1, synth + 2, synth + 3)
    val sinkIds = Seq(synth + 4, synth + 5, synth + 6)
    val boxBase = synth + 10 // the five appended rows, step 13

    println("[demo] 1. bootstrap: (user_id, ts_us) z-order grid, " +
      "16 bits, blooms on event_id + event_type")
    LayoutIngest.bootstrap(spark, dir, LayoutIngest.Grid(
      Seq("user_id", "ts_us"), Seq((umn, umx), (tmn, tmx)), bits = 16,
      bloomCols = Seq("event_id", "event_type")))

    println("[demo] 2. ingest 3 batches; batch 2 EVOLVES the schema " +
      "(adds value_eur)")
    val cut1 = tmn + (tmx - tmn) / 3
    val cut2 = tmn + 2 * ((tmx - tmn) / 3)
    def half(lo: Long, hi: Long) =
      ev.filter($"ts_us" >= lo && $"ts_us" < hi)
    LayoutIngest.ingestBatch(half(tmn, cut1).drop("value"),
      0L, dir, filesPerBatch = 2): Unit
    LayoutIngest.ingestBatch(half(cut1, cut2).drop("value"),
      1L, dir, filesPerBatch = 2): Unit
    LayoutIngest.ingestBatch(
      half(cut2, tmx + 1).withColumn("value_eur", $"value" * 0.92)
        .drop("value"),
      2L, dir, filesPerBatch = 2): Unit
    val live = LayoutIngest.read(spark, dir)
    require(live.count() == n, s"lost rows: ${live.count()} != $n")
    val nullEur = live.filter($"value_eur".isNull).count()
    println(s"[demo]    rows=${live.count()}; value_eur null for " +
      s"$nullEur pre-evolution rows")
    require(nullEur == half(tmn, cut2).count(), "wrong null backfill")

    val d0 = LayoutIngest.clusteringDepth(spark, dir)
    println(s"[demo]    clusteringDepth before fold: max=${d0._1} " +
      f"mean=${d0._2}%.2f units=${d0._3} (same-domain L0 tail)")
    println("[demo] 3. range-split fold (targetFileBytes sized for " +
      "~6 leaves)")
    def bytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(bytes).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    LayoutIngest.compact(spark, dir, smallFileBytes = 1L << 30,
      targetFileBytes = math.max(1L, bytes(new java.io.File(s"$dir/data")) / 6))
    val units = LayoutIngest.describe(spark, dir)
      .select("unit").as[String].collect().sorted
    println(s"[demo]    live units after fold: ${units.mkString(", ")}")
    require(units.forall(_.startsWith("gen-")), "fold must retire L0")
    val d1 = LayoutIngest.clusteringDepth(spark, dir)
    println(s"[demo]    clusteringDepth after fold: max=${d1._1} " +
      f"mean=${d1._2}%.2f units=${d1._3}")
    require(d1._1 == 1, s"range-split leaves must be disjoint: $d1")

    println("[demo] 4. CDC tail read: readSince(1) = batch 2 only " +
      "(through the fold, row-level provenance)")
    val tail = LayoutIngest.readSince(spark, dir, 1L)
    require(tail.count() == half(cut2, tmx + 1).count(),
      s"CDC tail wrong: ${tail.count()}")
    println(s"[demo]    tail rows=${tail.count()} " +
      s"max(__batch)=${tail.agg(max("__batch")).as[Long].head()}")

    println("[demo] 5. bloom point lookups (long id + string type)")
    val someId = ev.select("event_id").as[Long].head()
    val (hitL, liveL) = LayoutIngest.pointProbeDirs(
      spark, dir, "event_id", Seq(someId))
    println(s"[demo]    event_id=$someId opens ${hitL.size}/${liveL.size} units")
    require(LayoutIngest.scanPoints(spark, dir, "event_id", Seq(someId))
      .count() == 1, "point lookup must find exactly the row")
    val (hitS, liveS) = LayoutIngest.pointProbeDirs(
      spark, dir, "event_type", Seq("signup"))
    println(s"[demo]    event_type='signup' opens ${hitS.size}/${liveS.size} " +
      "units (low-cardinality: blooms cannot prune — expected)")
    require(LayoutIngest.scanPointsStr(spark, dir, "event_type",
      Seq("signup")).count() ==
      ev.filter($"event_type" === "signup").count(), "string probe exact")

    println("[demo] 6. box scan: middle 2% user slice, file-level pruned")
    val (blo, bhi) = (umn + (umx - umn) * 49 / 100,
      umn + (umx - umn) * 51 / 100)
    val (hitB, liveB) = LayoutIngest.prunedBoxDirs(spark, dir,
      Seq(("user_id", blo, bhi)))
    val boxRows = LayoutIngest.scanBox(spark, dir,
      Seq(("user_id", blo, bhi))).count()
    println(s"[demo]    box opens ${hitB.size}/${liveB.size} units, " +
      s"rows=$boxRows")
    require(boxRows == ev.filter($"user_id".between(blo, bhi)).count(),
      "box scan inexact")

    println("[demo] 7. right-to-be-forgotten: delete that user slice")
    require(LayoutIngest.delete(spark, dir, LayoutIngest.DmlTarget.Boxes(
      Seq(Seq(("user_id", blo, bhi)))), id = 1L), "delete must commit")
    require(LayoutIngest.read(spark, dir).count() == n - boxRows,
      "delete lost or kept wrong rows")
    println("[demo] 8. as-of read must NOT resurrect the forgotten rows")
    val asOf = LayoutIngest.readAsOf(spark, dir, 2L)
    require(asOf.filter($"user_id".between(blo, bhi)).count() == 0,
      "as-of view resurrected deleted rows")
    println(s"[demo]    readAsOf(2) rows=${asOf.count()} (= live table)")

    println("[demo] 9. row-keyed MERGE: correct 3 labels, insert 1 " +
      "synthetic event (bloom-pruned rewrite)")
    val mergeIds = LayoutIngest.read(spark, dir).orderBy("event_id")
      .limit(3).select($"event_id").as[Long].collect().toSeq
    val newId = synth
    val (hitM, liveM) = LayoutIngest.pointProbeDirs(
      spark, dir, "event_id", mergeIds :+ newId)
    println(s"[demo]    merge touches ${hitM.size}/${liveM.size} units")
    require(hitM.size < liveM.size, "the merge must be a pruned rewrite")
    // (updates may derive from the table itself since the r15
    // materialize-once rework — mergeRows pins the plan on entry; the
    // demo keeps the source-derived shape for clarity)
    val updates = ev.drop("value")
      .filter($"event_id".isInCollection(mergeIds))
      .withColumn("event_type", lit("corrected"))
      .unionByName(ev.drop("value").orderBy("event_id").limit(1)
        .withColumn("event_id", lit(newId))
        .withColumn("event_type", lit("synthetic")))
    require(LayoutIngest.mergeRows(spark, dir, "event_id", updates,
      batchId = 3L), "merge must commit")
    val merged = LayoutIngest.read(spark, dir)
    require(merged.count() == n - boxRows + 1,
      "merge must replace 3 rows and insert 1")
    require(merged.filter($"event_id".isInCollection(mergeIds) &&
        $"event_type" =!= "corrected").count() == 0,
      "merged labels must be corrected everywhere")
    require(merged.filter($"event_id" === newId).count() == 1,
      "the inserted key must be present exactly once")
    require(!LayoutIngest.mergeRows(spark, dir, "event_id", updates,
      batchId = 3L), "merge replay must be an O(1) marker no-op")

    println("[demo] 10. regrid: domain grew — rewrite under 2x-wide " +
      "user bounds with blooms kept")
    val dst = s"$base/events_regrid"
    LayoutIngest.regrid(spark, dir, dst, LayoutIngest.Grid(
      Seq("user_id", "ts_us"), Seq((umn, umx * 2 + 1), (tmn, tmx)),
      bits = 16, bloomCols = Seq("event_id")),
      targetFileBytes = math.max(1L,
        bytes(new java.io.File(s"$dir/data")) / 4))
    require(LayoutIngest.read(spark, dst).count() == n - boxRows + 1,
      "regrid lost rows")

    println("[demo] 11. describe() of the regridded table:")
    LayoutIngest.describe(spark, dst)
      .select("unit", "files", "rows", "bytes")
      .show(20, truncate = false)
    println("[demo] 12. history() of the source table's ledger:")
    LayoutIngest.history(spark, dir).show(20, truncate = false)
    require(LayoutIngest.history(spark, dir)
        .filter($"kind" === "merge" && $"committed").count() == 1,
      "the ledger must record the committed merge")

    println("[demo] 13. SQL surface: spark.read/df.write " +
      "format(\"graft-layout\") with pushdown pruning")
    val rel = spark.read.format("graft-layout").load(dir)
    rel.createOrReplaceTempView("events_table")
    val sqlN = spark.sql("SELECT count(*) FROM events_table")
      .head().getLong(0)
    require(sqlN == n - boxRows + 1, s"SQL count mismatch: $sqlN")
    val probeId = mergeIds.head
    val viaSql = spark.sql(
      s"SELECT event_type FROM events_table WHERE event_id = $probeId")
      .as[String].collect().toSeq
    require(viaSql == Seq("corrected"),
      s"SQL point lookup must see the merged row: $viaSql")
    println(s"[demo]    point lookup read " +
      s"${graft.streaming.LayoutScanStats.lastUnitsRead}/" +
      s"${graft.streaming.LayoutScanStats.lastUnitsLive} units " +
      "(bloom-pruned through the pushed-down filter)")
    val beforeWrite = rel.count()
    ev.drop("value").limit(5)
      .withColumn("event_id", $"event_id" - idMin + boxBase)
      .withColumn("event_type", lit("appended"))
      .write.format("graft-layout").mode("append").save(dir)
    require(spark.read.format("graft-layout").load(dir).count()
        == beforeWrite + 5,
      "DataFrameWriter append must land exactly the new rows")

    println("[demo] 14. SQL DML: DELETE FROM / MERGE INTO route to " +
      "delete/mergeRows (GraftSqlExtensions)")
    val beforeDml = spark.table("events_table").count()
    // the five appended rows live at event_id boxBase+; DELETE them by box
    spark.sql(s"DELETE FROM events_table WHERE event_id >= $boxBase")
    val afterDelete = spark.table("events_table").count()
    require(afterDelete == beforeDml - 5,
      s"SQL DELETE must remove exactly the appended 5: $beforeDml -> " +
        s"$afterDelete")
    // whole-row upsert via SQL: relabel the probe row + insert a fresh
    // one, through a temp-view source
    spark.table("events_table")
      .filter($"event_id" === probeId)
      .withColumn("event_type", lit("sql-merged"))
      .drop("zkey")
      .unionByName(spark.table("events_table").limit(1)
        .withColumn("event_id", lit(sqlInsId))
        .withColumn("event_type", lit("sql-inserted"))
        .drop("zkey"))
      .createOrReplaceTempView("dml_src")
    val cols = spark.table("dml_src").columns
    spark.sql(s"""MERGE INTO events_table USING dml_src
      ON events_table.event_id = dml_src.event_id
      WHEN MATCHED THEN UPDATE SET ${cols.filterNot(_ == "event_id")
        .map(c => s"$c = dml_src.$c").mkString(", ")}
      WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
        VALUES (${cols.map(c => s"dml_src.$c").mkString(", ")})""")
    val dmlLabels = spark.sql(s"SELECT event_type FROM events_table " +
      s"WHERE event_id IN ($probeId, $sqlInsId)").as[String].collect().toSet
    require(dmlLabels == Set("sql-merged", "sql-inserted"),
      s"SQL MERGE must relabel + insert: $dmlLabels")
    require(spark.table("events_table").count() == afterDelete + 1,
      "SQL MERGE must add exactly the one unmatched row")
    println("[demo]    DELETE removed the appended box; MERGE " +
      "relabeled 1 + inserted 1 (both under auto-minted ledger ids)")
    // union-of-boxes DELETE: a top-level OR runs as ONE delete op
    val delOpsBefore = LayoutIngest.history(spark, dir)
      .filter($"kind" === "delete").count()
    val twoPoints = spark.sql("SELECT event_id FROM events_table " +
      "ORDER BY event_id DESC LIMIT 2").as[Long].collect()
    spark.sql(s"DELETE FROM events_table WHERE event_id = " +
      s"${twoPoints(0)} OR event_id = ${twoPoints(1)}")
    require(spark.table("events_table").count() == afterDelete - 1,
      "OR DELETE must remove both point boxes (the two synthetic inserts)")
    require(LayoutIngest.history(spark, dir)
        .filter($"kind" === "delete").count() == delOpsBefore + 1,
      "a two-box OR DELETE is ONE history op, not two")
    // conditional MERGE: the SAME source-only condition on both
    // actions pre-filters the source — the false-gated row is ignored
    spark.table("events_table").limit(1)
      .withColumn("event_id", lit(condId))
      .withColumn("event_type", lit("sql-cond-inserted"))
      .drop("zkey")
      .unionByName(spark.table("events_table").limit(1)
        .withColumn("event_id", lit(blockedId))
        .withColumn("event_type", lit("sql-cond-blocked"))
        .drop("zkey"))
      .createOrReplaceTempView("dml_cond_src")
    spark.sql(s"""MERGE INTO events_table USING dml_cond_src
      ON events_table.event_id = dml_cond_src.event_id
      WHEN MATCHED AND dml_cond_src.event_id = $condId THEN UPDATE SET
        ${cols.filterNot(_ == "event_id")
          .map(c => s"$c = dml_cond_src.$c").mkString(", ")}
      WHEN NOT MATCHED AND dml_cond_src.event_id = $condId THEN
        INSERT (${cols.mkString(", ")})
        VALUES (${cols.map(c => s"dml_cond_src.$c").mkString(", ")})""")
    val condIds = spark.sql("SELECT event_id FROM events_table " +
      s"WHERE event_id IN ($condId, $blockedId)").as[Long].collect().toSet
    require(condIds == Set(condId),
      s"conditional MERGE must insert only the gated row: $condIds")
    // UPDATE = box-scoped in-place redaction: null a payload column
    // for a user slice WITHOUT deleting the rows
    val (rlo, rhi) = (umn + (umx - umn) * 70 / 100,
      umn + (umx - umn) * 72 / 100)
    val preRedact = spark.table("events_table").count()
    spark.sql(s"UPDATE events_table SET event_type = NULL " +
      s"WHERE user_id BETWEEN $rlo AND $rhi")
    val redacted = spark.sql("SELECT count(*) FROM events_table " +
      s"WHERE user_id BETWEEN $rlo AND $rhi AND event_type IS NULL")
      .head().getLong(0)
    require(spark.table("events_table").count() == preRedact &&
      redacted > 0 &&
      spark.sql("SELECT count(*) FROM events_table " +
        s"WHERE user_id BETWEEN $rlo AND $rhi AND event_type IS NOT " +
        "NULL").head().getLong(0) == 0,
      "UPDATE must redact the slice in place without deleting rows")
    println("[demo]    OR DELETE swept two boxes as one ledger op; " +
      "conditional MERGE inserted only the row passing its gate; " +
      s"UPDATE redacted $redacted rows in place")

    println("[demo] 15. streaming sink: writeStream.format" +
      "(\"graft-layout\") — txn-minted ids next to the batch DML above")
    val beforeSink = spark.table("events_table").count()
    val sinkIn = new org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](1000, spark)
    sinkIn.addData(sinkIds: _*)
    val template = spark.table("events_table").limit(1)
      .drop("zkey").cache()
    val sinkCk = java.nio.file.Files
      .createTempDirectory("demo-sink-ck").toString
    val sq = sinkIn.toDF().toDF("new_id")
      .join(org.apache.spark.sql.functions.broadcast(template))
      .withColumn("event_id", $"new_id").drop("new_id")
      .withColumn("event_type", lit("stream-sunk"))
      .select(template.columns.map(col): _*)
      .writeStream.format("graft-layout")
      .option("checkpointLocation", sinkCk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dir)
    sq.awaitTermination()
    val sunk = spark.read.format("graft-layout").load(dir)
      .filter($"event_type" === "stream-sunk").count()
    require(sunk == 3 &&
        spark.read.format("graft-layout").load(dir).count()
          == beforeSink + 3,
      s"stream sink must land exactly 3 rows, got $sunk")
    println("[demo]    3 rows streamed in; ledger ids reserved via " +
      "txn markers, batch DML and stream writers share one table")

    println("[demo] 16. vacuum: retention sweep after all that churn")
    val vacBefore = spark.read.format("graft-layout").load(dir).count()
    val vst = LayoutIngest.vacuum(spark, dir)
    require(spark.read.format("graft-layout").load(dir).count()
        == vacBefore, "vacuum must never change the live rows")
    println(s"[demo]    $vst; live rows unchanged ($vacBefore)")
    println("[demo] LAKEHOUSE DEMO OK")
    spark.stop()
  }
}
