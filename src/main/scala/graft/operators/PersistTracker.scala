package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Shared caller-owned persist lifecycle for operator intermediates that
 * feed more than one consumer in a single query (the signature frames of
 * the dedup family, q58's tf counts, …): without the cache Spark plans —
 * and executes — the whole subtree once per consumer.
 *
 * Callers materialize the operator's result, then release; releasing
 * early only costs recomputation, never correctness. `Verify`/`Bench`/
 * `Dev` release after every query so a battery sweep never accumulates
 * executor storage.
 */
private[graft] object PersistTracker {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  def trackPersist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tracked.add(p)
    p
  }

  /** Register an already-persisted frame for the next [[releaseAll]]. */
  def track(df: DataFrame): Unit = tracked.add(df)

  /** Unpersist everything tracked since the last release (idempotent;
    * safe while queries on other threads run — they just recompute). */
  def releaseAll(): Unit = {
    var df = tracked.poll()
    while (df != null) { df.unpersist(); df = tracked.poll() }
  }

  /** Scope-local persist set for operators that release their OWN
    * intermediates before returning (k-means' quantized corpus). Frames
    * persisted here never enter the global queue, so releasing the
    * scope cannot unpersist caches other in-flight operators still
    * rely on — the failure mode of calling [[releaseAll]] from inside
    * an operator. */
  final class Scope {
    private val local =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      local.add(p)
      p
    }

    def release(): Unit = {
      var df = local.poll()
      while (df != null) { df.unpersist(); df = local.poll() }
    }
  }

  /** Run `f` with a fresh scope; releases exactly that scope's frames. */
  def scoped[T](f: Scope => T): T = {
    val s = new Scope
    try f(s) finally s.release()
  }
}
