package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Lineage-truncation policy for the iterative operators (the CC label
  * loop, PageRank ranks, k-core peeling, label propagation).
  *
  * Every round of an iterative plan must truncate lineage or plan depth
  * grows with the round count (and Catalyst re-derives the whole history
  * each round). The default truncation is `localCheckpoint`: blocks live in
  * executor memory/disk with NO lineage behind them — fast, no distributed-
  * filesystem round-trip, and exactly right on local[k] or short loops.
  * But on a real cluster a lost executor loses its localCheckpoint blocks
  * UNRECOVERABLY (the lineage that could recompute them was truncated
  * away), failing the whole job mid-loop; at 1000 executors over a long
  * loop, executor churn is routine, not exceptional.
  *
  * Setting `graft.loops.reliableCheckpoint=true` (a runtime session conf)
  * switches every round boundary to RELIABLE checkpointing —
  * `Dataset.checkpoint(eager = true)` / `RDD.checkpoint()` into the
  * context's checkpoint directory (`SparkContext.setCheckpointDir`, HDFS/
  * object-store-backed on a cluster), which survives any executor loss.
  * The results are IDENTICAL either way (LoopsSpec pins this); only the
  * storage of the round frontier changes. The knob is read per call, so a
  * long-running session can turn it on for a big job and off again.
  */
object Loops {

  /** Session conf key; values "true"/"false" (default false). */
  val ReliableConfKey = "graft.loops.reliableCheckpoint"

  def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.get(ReliableConfKey, "false").toBoolean
    if (on && spark.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$ReliableConfKey=true requires SparkContext.setCheckpointDir " +
          "(reliable storage for round frontiers)")
    on
  }

  /** Truncate lineage at a round boundary: reliable checkpoint when the
    * session asks for it, localCheckpoint otherwise. Eager either way —
    * the loop's convergence reads ride the materialization. */
  def roundCheckpoint[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds.sparkSession)) ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)

  /** RDD form for loops that run on RDDs: the CC label loop (round-trips
    * for fresh attribute ids) and PageRank's rank frontier (keeps its
    * partitioner). Marks only; the caller materializes with its own action
    * (checkpointing completes on that action either way).
    *
    * Reliable mode persists BEFORE marking: `RDD.checkpoint()` on an
    * unpersisted RDD makes the separate checkpoint-writing job RECOMPUTE
    * the whole round lineage (doubling per-round cost), and the
    * checkpointed copy would then be a recomputation rather than the exact
    * data the caller's convergence action observed. With the persist, the
    * caller's action fills the cache and the checkpoint job copies cached
    * blocks. The loop's own per-round unpersist releases the cache
    * (localCheckpoint needs no extra persist — it IS a persist). */
  def markCheckpoint(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (reliable(spark)) {
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
}
