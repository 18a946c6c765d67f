package graft

import graft.streaming.LayoutIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One crash table for [[LayoutIngest.mergeRows]]: three merge kinds
  * (long key, string key, a gated NOT MATCHED BY SOURCE delete) crossed
  * with four hand-built crash states along the merge's commit order —
  *
  *  - the intent only (crash right after the claim);
  *  - the intent plus the appended `batch-<id>` (crash before any
  *    removal rewrite);
  *  - the `mrg-<id>` record without the `merge-<id>` commit marker
  *    (every rewrite done, the replay must not delete its own append);
  *  - the commit marker with a stale intent (crash before the intent
  *    delete).
  *
  * Every cell checks the same three facts: the same-id replay equals
  * the uninterrupted table (rows, cluster key and provenance, and the
  * `mrg-<id>` record byte for byte), `history` shows exactly one
  * committed merge, and a replica replays the merge to the same bytes.
  */
class MergeCrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  private type Row5 = (Long, Long, Option[String], Long, Long, Long)

  /** Two one-file units: a = b = 0..49 and 50..99, doc = "doc-<a>"
    * (NULL at a = 7), v = a*10; `a` and `doc` carry bloom sidecars. */
  private def freshTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    val t = d.getAbsolutePath + "/t"
    LayoutIngest.bootstrap(spark, t, LayoutIngest.Grid(
      Seq("a", "b"), Seq((0L, 99L), (0L, 99L)), bits = 4,
      bloomCols = Seq("a", "doc")))
    def frame(r: Range) = r.map(i =>
        (i.toLong, i.toLong, if (i == 7) null else s"doc-$i", i * 10L))
      .toDF("a", "b", "doc", "v")
    LayoutIngest.ingestBatch(frame(0 to 49), 0L, t, 1): Unit
    LayoutIngest.ingestBatch(frame(50 to 99), 1L, t, 1): Unit
    t
  }

  private def snap(dir: String): Set[Row5] =
    LayoutIngest.readSince(spark, dir, -1L)
      .select("a", "b", "doc", "v", "zkey", "__batch")
      .as[Row5].collect().toSet

  private def marker(dir: String, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$dir/markers/$name")

  private def body(dir: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(marker(dir, name)),
      "UTF-8")

  /** The merge's ledger id: the next id after the two seed batches. */
  private val Id = 2L

  private case class Kind(name: String, key: String, updates: DataFrame,
      dropUnmatched: Option[LayoutIngest.UnmatchedDelete]) {
    def merge(t: String): Boolean = LayoutIngest.mergeRows(spark, t, key,
      updates, Id, dropUnmatched = dropUnmatched)
  }

  private def upd(rows: (Long, Long, String, Long)*): DataFrame =
    rows.toDF("a", "b", "doc", "v")

  private lazy val kinds = Seq(
    Kind("long key", "a",
      upd((10L, 10L, "doc-10", -1L), (60L, 60L, "doc-60", -2L),
        (120L, 99L, "doc-120", -3L)), None),
    Kind("string key", "doc",
      upd((20L, 20L, "doc-20", -5L), (70L, 70L, "doc-70", -6L),
        (5L, 5L, "doc-new", -7L)), None),
    Kind("NOT MATCHED BY SOURCE delete", "a",
      upd((3L, 3L, "doc-3", -8L), (80L, 80L, "doc-80", -9L)),
      Some(LayoutIngest.UnmatchedDelete(Some(col("v") < 100L)))))

  /** The uninterrupted merge of each kind, built once per kind. */
  private val refs = scala.collection.mutable.Map.empty[String, String]
  private def ref(kind: Kind): String = refs.getOrElseUpdate(kind.name, {
    val t = freshTable(s"mrgref-${kind.name.split(" ").head.toLowerCase}")
    assert(kind.merge(t))
    t
  })

  /** The claim-instant watermark the intent carries (batches 0..1). */
  private def writeIntent(t: String): Unit =
    java.nio.file.Files.write(marker(t, s"merge-$Id.intent"),
      "1".getBytes("UTF-8")): Unit

  /** Crash states, each hand-built on a fresh table: name, the state
    * builder, and whether the replay still has work to commit. */
  private val states: Seq[(String, (Kind, String) => Unit, Boolean)] = Seq(
    ("the intent only", (_, t) => writeIntent(t), true),
    ("the intent plus the appended batch", (k, t) => {
      writeIntent(t)
      assert(LayoutIngest.ingestBatch(k.updates, Id, t, 4))
    }, true),
    ("the mrg record without the commit marker", (k, t) => {
      assert(k.merge(t))
      java.nio.file.Files.delete(marker(t, s"merge-$Id"))
      writeIntent(t)
    }, true),
    ("the commit marker with a stale intent", (k, t) => {
      assert(k.merge(t))
      writeIntent(t)
    }, false))

  for (k <- Seq("long key", "string key", "NOT MATCHED BY SOURCE delete");
       (state, build, owed) <- states) {
    test(s"merge crash table: $k × $state — the same-id replay equals " +
        "the uninterrupted merge, history shows one merge, a replica " +
        "replays to the same bytes") {
      val kind = kinds.find(_.name == k).get
      val t = freshTable(s"mrgcrash-${k.split(" ").head.toLowerCase}")
      val r = t.stripSuffix("/t") + "/r"
      // the replica mirrors the pre-merge table, so the merge reaches it
      // as a replay rather than a bootstrap pull
      assert(LayoutIngest.replicate(spark, t, r).batchesPulled === 2)
      build(kind, t)
      assert(kind.merge(t) === owed)
      assert(snap(t) === snap(ref(kind)),
        "the replay converges: no loss, no dup")
      assert(body(t, s"mrg-$Id") === body(ref(kind), s"mrg-$Id"))
      assert(!java.nio.file.Files.exists(marker(t, s"merge-$Id.intent")),
        "the intent retires with the commit marker")
      assert(!kind.merge(t), "a committed merge replays as a no-op")
      assert(LayoutIngest.history(spark, t)
        .filter(col("kind") === "merge").select("id", "committed")
        .as[(Long, Boolean)].collect().toSeq === Seq((Id, true)))
      val st = LayoutIngest.replicate(spark, t, r)
      assert(st.mergesReplayed === 1, s"got $st")
      assert(snap(r) === snap(t))
    }
  }
}
