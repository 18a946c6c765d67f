package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The marker ledger shared by the streamed families: the per-id
  * marker files under `<dir>/markers`, the recoverable `.next` swap
  * every filtered rewrite runs through, and the marker-watermark fold
  * ([[LayoutIngest.compactMarkers]], [[IndexIngest.compactMarkers]]),
  * so the crash ordering of each lives in exactly one place.
  *
  * The fold: the contiguous committed prefix of per-batch markers folds
  * into ONE `batch-upto-<n>` file — an atomic empty-file create whose
  * NAME carries the state (monotone; readers take the max) — and only
  * then are the folded markers and superseded watermarks retired. A
  * crash between any two steps leaves a state the next fold converges
  * from: the watermark never regresses, an unretired marker at or below
  * it is re-deleted, a missing watermark just re-folds. The families
  * differ only in how a commit marker is NAMED (`batch-<id>` vs a bare
  * number) and in what extra per-id debris a fold may retire
  * (IndexIngest's stale `.intent` files) — those are the two
  * parameters.
  *
  * Callers hold their single-writer lock; this object does no
  * locking of its own.
  */
private[streaming] object MarkerLedger {

  /** Highest `batch-upto-<n>` among `names`, -1 when none. */
  def watermark(names: Seq[String]): Long =
    names.filter(_.matches("batch-upto-\\d+"))
      .map(_.stripPrefix("batch-upto-").toLong)
      .foldLeft(-1L)(math.max)

  /** Every file name in `<dir>/markers` (commits, intents, watermarks,
    * the lock) from ONE listing; empty before the first marker. */
  def names(spark: SparkSession, dir: String): Seq[String] = {
    val (f, root) = DedupIngest.fs(spark, s"$dir/markers")
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
  }

  private def marker(spark: SparkSession, dir: String, name: String) = {
    val (f, root) = DedupIngest.fs(spark, s"$dir/markers")
    (f, new Path(root, name))
  }

  def has(spark: SparkSession, dir: String, name: String): Boolean = {
    val (f, p) = marker(spark, dir, name)
    f.exists(p)
  }

  /** Atomic empty-file create; re-putting an existing marker is a
    * no-op in effect (a replay may re-put its intent). */
  def put(spark: SparkSession, dir: String, name: String): Unit = {
    val (f, p) = marker(spark, dir, name)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  def drop(spark: SparkSession, dir: String, name: String): Unit = {
    val (f, p) = marker(spark, dir, name)
    if (f.exists(p)) f.delete(p, false)
  }

  /** Commit `name`, then drop its `.intent` — the order every ledgered
    * write ends in (a crash between the two leaves a stale intent that
    * the commit check and the fold both tolerate). */
  def commit(spark: SparkSession, dir: String, name: String): Unit = {
    put(spark, dir, name)
    drop(spark, dir, s"$name.intent")
  }

  /** Rewrite the parquet dir at `path` through the recoverable swap:
    * complete any crashed tail fold and any crashed swap first (a
    * rewrite over a half-installed fold would both materialize its
    * duplicates and orphan its manifest), then `write` the replacement
    * to `path.next`, delete the live dir, and promote the replacement
    * ([[DedupIngest.recoverSwap]] completes a crash after the delete
    * and clears a `.next` orphaned before it). A no-op when the dir is
    * absent. */
  def swap(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    DedupIngest.recoverFold(spark, path)
    DedupIngest.recoverSwap(spark, path)
    val (f, live) = DedupIngest.fs(spark, path)
    if (f.exists(live)) {
      write(path + ".next")
      f.delete(live, true)
      DedupIngest.renameOrThrow(f, new Path(path + ".next"), live, "swap")
    }
  }

  /** Fold and retire (object doc). `commitIds` are the ids whose
    * individual commit markers exist in `names`; `commitName` renders
    * an id's marker file name; `retireBelow(n)` lists extra file
    * names to delete once the watermark stands at n — keyed on the
    * watermark, not on `commitIds`, so debris whose commit marker was
    * folded by an EARLIER crashed pass is still collected. */
  def fold(f: org.apache.hadoop.fs.FileSystem, root: Path, names: Seq[String],
      commitIds: Set[Long], commitName: Long => String,
      retireBelow: Long => Seq[String] = _ => Nil): Unit = {
    val w = watermark(names)
    var n = w
    while (commitIds.contains(n + 1)) n += 1
    if (n > w) f.create(new Path(root, s"batch-upto-$n"), true).close()
    if (n >= 0) {
      commitIds.filter(_ <= n).foreach(i =>
        f.delete(new Path(root, commitName(i)), false))
      retireBelow(n).foreach(extra =>
        f.delete(new Path(root, extra), false): Unit)
      names.filter(_.matches("batch-upto-\\d+"))
        .map(_.stripPrefix("batch-upto-").toLong).filter(_ < n)
        .foreach(m => f.delete(new Path(root, s"batch-upto-$m"), false))
    }
  }
}
