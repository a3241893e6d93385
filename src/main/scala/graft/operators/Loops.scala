package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The one fixed-point kernel behind every iterative graph operator
  * (PageRank, the CC label loop, k-core peeling, label propagation), and
  * its lineage-truncation policy.
  *
  * Round shape: the co-partitioned join of the RDD paper (Zaharia et al.,
  * NSDI'12 §3.2.2). A [[Loop]] hash-partitions its static inputs ONCE,
  * under one partitioner as wide as its input after AQE coalesced it (at
  * most `spark.sql.shuffle.partitions`), and persists them; every
  * frontier keeps that partitioner, so a round's joins against the static
  * inputs are narrow and its only shuffles are the propagation itself.
  * Rounds are written with Spark's own `join` and `reduceByKey` (which
  * spill), and no round plans a SQL join, so no runtime join choice (and
  * no broadcast of a loop input) can differ between two runs.
  *
  * A loop without a convergence read materializes its frontier every
  * [[LineageRounds]] rounds, so a run of up to that many rounds is one
  * Spark job. A loop with one (CC, k-core) materializes every round with
  * ONE action that both fills the round and folds the read. Either way
  * the materialized frontier is the lineage truncation point, and the
  * one before it is released.
  *
  * Truncation follows [[Materialize]]'s one rule: `localCheckpoint` by
  * default, fast and exactly right on local[k] or short loops, but a lost
  * executor loses its blocks with no lineage left to recompute them, which
  * fails the whole job mid-loop; at 1000 executors over a long loop,
  * executor churn is routine, not exceptional. With
  * `Materialize.ReliableConfKey` on, every frontier and the loop's result
  * go to reliable checkpoint storage instead. The results are IDENTICAL
  * either way (LoopsSpec pins this); only the storage changes. The conf
  * is read per call, as for every frame `Materialize` checkpoints.
  */
object Loops {

  /** Rounds between materializations of a frontier in a loop without a
    * convergence read. A run of at most this many rounds is one Spark
    * job; a longer one builds a DAG of at most this many rounds per job
    * instead of one deep DAG. */
  private[operators] val LineageRounds = 10

  /** A convergence read: the action that materializes a round sums
    * `measure` over the frontier's values. The loop stops once
    * `done(sums)`; `exhausted(sums, maxRounds)` describes a loop that ran
    * out of rounds first. */
  private[operators] final case class Read[V](
      measure: V => (Long, Long),
      done: ((Long, Long)) => Boolean,
      exhausted: ((Long, Long), Int) => String)

  /** One fixed-point loop: the initial frontier (under the loop's
    * partitioner), the round, and an optional convergence read. */
  private[operators] final case class FixedPoint[K, V](
      init: RDD[(K, V)],
      step: RDD[(K, V)] => RDD[(K, V)],
      read: Option[Read[V]] = None)

  /** Runs `body` on a fresh [[Loop]] over `input` and returns the rows it
    * builds as a frame with fresh attribute ids, materialized once
    * ([[Materialize.shared]]). The loop's persisted RDDs are released
    * after, or when `body` throws. */
  private[operators] def run(input: DataFrame, schema: StructType)(
      body: Loop => RDD[Row]): DataFrame = {
    val loop = new Loop(input)
    try Materialize.shared()(input.sparkSession.createDataFrame(body(loop), schema))
    finally loop.release()
  }

  /** The order Spark SQL sorts `dt` values in, for loops that take a min
    * or break ties by id: strings by `UTF8String`'s byte order, not by
    * `String.compareTo`'s UTF-16 units (which sort a supplementary
    * character below U+E000..U+FFFF). Binary ids are refused: byte arrays
    * hash by identity on the JVM, so two equal ids would land apart and
    * never join. */
  private[operators] def idOrdering(op: String, dt: DataType): Ordering[Any] = dt match {
    case BinaryType =>
      throw new IllegalArgumentException(s"$op: binary node ids are not supported")
    case _: StringType =>
      def utf8(s: Any) = UTF8String.fromString(s.asInstanceOf[String])
      (a, b) => utf8(a).compareTo(utf8(b))
    case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** The state of one loop run over `input`: its partitioner, and the
    * static inputs and last materialized frontier it holds until
    * [[release]]. */
  private[operators] final class Loop(val input: DataFrame) {
    /** The input's rows. Building them runs the input's plan up to its
      * last shuffle, whose partitions AQE has coalesced to the data's size
      * by then. */
    val rows: RDD[Row] = input.rdd

    /** As many partitions as the input has, at most the session's shuffle
      * width: a small graph's rounds run in few tasks, a large one's at
      * full width. */
    val part = new HashPartitioner(math.max(1, math.min(rows.getNumPartitions,
      input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)))

    private var statics = List.empty[RDD[_]]
    private var frontier: Option[RDD[_]] = None

    /** `rdd` under the loop's partitioner, persisted for the whole loop. */
    def static[K: ClassTag, V: ClassTag](rdd: RDD[(K, V)]): RDD[(K, V)] = {
      val p = if (rdd.partitioner.contains(part)) rdd else rdd.partitionBy(part)
      p.persist(StorageLevel.MEMORY_AND_DISK)
      statics ::= p
      p
    }

    /** Runs `fp` for `maxRounds` rounds, or until its read is done, and
      * returns the last frontier (not yet materialized when the loop has
      * no read). A loop whose read is not done after `maxRounds` rounds
      * throws, or with `strict = false` logs a warning and returns the
      * frontier as it stands. */
    def iterate[K, V](fp: FixedPoint[K, V], maxRounds: Int,
        strict: Boolean = true): RDD[(K, V)] = {
      var cur = fp.init
      var sums = (0L, 0L)
      var done = false
      var round = 0
      while (round < maxRounds && !done) {
        cur = fp.step(cur)
        round += 1
        fp.read match {
          case Some(r) =>
            sums = materialize(cur)(cur.map(kv => r.measure(kv._2))
              .fold((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) })
            done = r.done(sums)
          case None => if (round % LineageRounds == 0 && round < maxRounds)
            materialize(cur)(cur.count())
        }
      }
      for (r <- fp.read if !done) {
        val msg = r.exhausted(sums, maxRounds)
        if (strict) throw new IllegalStateException(msg)
        else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      cur
    }

    /** Makes `rdd` the loop's lineage truncation point, materialized by
      * `action`, and releases the frontier materialized before it, which
      * nothing can reach any more. Reliable mode persists before marking,
      * so the checkpoint-writing job copies the blocks `action` filled
      * instead of RECOMPUTING the round (`localCheckpoint` is a persist
      * itself). */
    private def materialize[T](rdd: RDD[_])(action: => T): T = {
      if (Materialize.reliable(input.sparkSession)) {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint()
      val out = action
      frontier.foreach(_.unpersist(blocking = true))
      frontier = Some(rdd)
      out
    }

    private[operators] def release(): Unit =
      (frontier ++: statics).foreach(_.unpersist(blocking = false))
  }
}
