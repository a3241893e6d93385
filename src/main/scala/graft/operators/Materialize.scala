package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of frame materialization in operators and queries. An
  * operator or query whose plan reads a frame more than once, or that needs
  * a frame computed once as a barrier, wraps that work in [[shared]]
  * instead of writing its own persist, fill, checkpoint and release.
  *
  * Every materialized frame is checkpointed under one rule: a
  * `localCheckpoint` by default, whose blocks live in executor memory and
  * disk with no lineage behind them, so a lost executor loses them for
  * good; or, with [[ReliableConfKey]] on, a reliable checkpoint into the
  * context's checkpoint directory (`SparkContext.setCheckpointDir`,
  * distributed storage on a cluster), which survives executor loss. The
  * rows are the same either way; LoopsSpec pins this. The conf is read per
  * call, so a long-running session can turn it on for a big job and off
  * again. [[Loops]] truncates its round frontiers under the same rule. */
private[graft] object Materialize {

  /** Session conf key; values "true"/"false" (default false). */
  val ReliableConfKey = "graft.loops.reliableCheckpoint"

  /** Whether the session asks for reliable checkpoints; fails when it does
    * and the context has no checkpoint directory. */
  def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.get(ReliableConfKey, "false").toBoolean
    if (on && spark.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$ReliableConfKey=true requires SparkContext.setCheckpointDir " +
          "(reliable storage for materialized frames)")
    on
  }

  /** Runs `body` with `frames` cached, and returns its result materialized.
    *
    *  1. Each shared frame is persisted `MEMORY_AND_DISK`, in the order
    *     given, so a later frame's cache reads an earlier one's. A persist
    *     keeps the lineage: a cache miss recomputes the frame. (A miss over
    *     a lineage-truncated input fails instead: see the
    *     `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` note in `ScaleRamp`.) A frame
    *     that is already cached belongs to whoever cached it, an enclosing
    *     scope most often, and is left alone; so is a frame that is already
    *     materialized (a checkpoint, such as a cap-on `bucketPairs` result).
    *  2. `body` runs. There is no separate fill job: the body's first
    *     action fills each cache. Adaptive execution computes a cached
    *     frame's rows once even when several stages of that action read
    *     it, but it runs one fill job per reading stage; a body whose
    *     first action would read a frame through several different
    *     exchanges materializes a one-reader result first.
    *  3. The body's result is filled with one eager checkpoint, local or
    *     reliable as the session asks (see above). A result that is
    *     already materialized (a nested scope's) is returned as it is.
    *  4. The frames this scope persisted are released in a `finally`, also
    *     when `body` throws, the last first.
    *
    * With no frames, `shared()(frame)` only materializes `frame`: the form
    * for a frame that must be computed once (a barrier against a plan that
    * would recompute or re-sample it), that truncates a loop's lineage, or
    * that several stages of its first action read through different
    * exchanges. The returned frame's checkpoint is the only storage a call
    * leaves behind, and `ContextCleaner` releases it with the frame. */
  def shared(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    val owned = frames.filter(f => f.storageLevel == StorageLevel.NONE && !materialized(f))
    try {
      owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      val out = body
      if (materialized(out)) out
      else if (reliable(out.sparkSession)) out.checkpoint(eager = true)
      else out.localCheckpoint(eager = true)
    } finally owned.reverseIterator.foreach(_.unpersist(blocking = false))
  }

  private def materialized(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }
}
