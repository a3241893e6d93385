package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of a shared frame's cache lifecycle. An operator or query
  * whose plan reads a frame more than once wraps that work in
  * [[shared]] instead of writing its own persist, fill, checkpoint and
  * release. */
private[graft] object Materialize {

  /** Runs `body` with `frames` cached, and returns its result materialized.
    *
    *  1. Each shared frame is persisted `MEMORY_AND_DISK`, in the order
    *     given, so a later frame's cache reads an earlier one's. A persist
    *     keeps the lineage: a cache miss recomputes the frame. (A miss over
    *     a lineage-truncated input fails instead: see the
    *     `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` note in `ScaleRamp`.) A frame
    *     that is already cached belongs to whoever cached it, an enclosing
    *     scope most often, and is left alone.
    *  2. `body` runs. There is no separate fill job: the body's first
    *     action fills each cache. Adaptive execution computes a cached
    *     frame's rows once even when several stages of that action read
    *     it, but it runs one fill job per reading stage; a body whose
    *     first action would read a frame through several different
    *     exchanges materializes a one-reader result first.
    *  3. The body's result is filled with one eager `localCheckpoint`. A
    *     result that is already materialized (a nested scope's) is
    *     returned as it is.
    *  4. The frames this scope persisted are released in a `finally`, also
    *     when `body` throws, the last first.
    *
    * With no frames, a call only materializes the result. The returned
    * frame's checkpoint is the only storage a call leaves behind, and
    * `ContextCleaner` releases it with the frame. */
  def shared(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    val owned = frames.filter(_.storageLevel == StorageLevel.NONE)
    try {
      owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      val out = body
      if (materialized(out)) out else out.localCheckpoint(true)
    } finally owned.reverseIterator.foreach(_.unpersist(blocking = false))
  }

  private def materialized(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }
}
