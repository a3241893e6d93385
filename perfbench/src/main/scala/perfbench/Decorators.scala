package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

import graft.streaming.Sinks.{MetadataSink, ObjectStore}

/** Call count, busy time and (optionally) bytes of one store operation, plus
  * every call's duration for percentiles. */
final class OpStats {
  val calls = new LongAdder
  val nanos = new LongAdder
  val bytes = new LongAdder
  val ms = new Samples
  def record(t0: Long, nBytes: Long = 0L): Unit = {
    val dt = System.nanoTime() - t0
    calls.increment(); nanos.add(dt); bytes.add(nBytes); ms.add(dt / 1e6)
    SinkCounters.charge(t0, dt)
  }
  def msSum: Double = nanos.sum / 1e6
}

/** The store operations of one role: "sink" for the pipeline's writes, "api"
  * for the control plane's reads. */
final class RoleStats {
  val put, get, keys, upsert, find, findLatest, count = new OpStats
  def all: Seq[OpStats] = Seq(put, get, keys, upsert, find, findLatest, count)
  def busyMs: Double = all.map(_.msSum).sum
}

/** Sink time of one Spark task, charged to the micro-batch it ran for. */
final case class TaskCharge(batch: String, startMs: Double, endMs: Double, calls: Long, busyMs: Double)

/** JVM-wide accumulators behind the forwarding wrappers. Spark local mode runs
  * every task in this JVM, so executor-side calls land here directly. */
object SinkCounters {
  private val roles = new ConcurrentHashMap[String, RoleStats]()
  /** How many times each (table, stream_id, chunk_index) was upserted. */
  val delivered = new ConcurrentHashMap[(String, String, Long), AtomicInteger]()
  /** Per live chunk: upsert return time minus the document's `timestamp`. */
  val deliveredMs = new Samples
  /** Per live chunk: the epoch ms its upsert returned. */
  val deliveredAt = new Samples
  private val tasks = new ConcurrentHashMap[Long, TaskCharge]()

  def role(name: String): RoleStats = roles.computeIfAbsent(name, _ => new RoleStats)

  /** Sums sink time per task (not per call) to keep traced volume bounded. */
  def charge(t0: Long, dt: Long): Unit = if (Tracer.enabled) {
    val tc = TaskContext.get()
    if (tc != null) {
      val now = System.currentTimeMillis().toDouble
      val start = now - dt / 1e6
      tasks.merge(tc.taskAttemptId(),
        TaskCharge(Option(tc.getLocalProperty("streaming.sql.batchId")).getOrElse("?"), start, now, 1, dt / 1e6),
        (a, b) => TaskCharge(a.batch, math.min(a.startMs, b.startMs), math.max(a.endMs, b.endMs),
          a.calls + b.calls, a.busyMs + b.busyMs))
    }
  }
  def taskCharges: Map[Long, TaskCharge] = tasks.asScala.toMap

  def reset(): Unit = {
    roles.clear(); delivered.clear(); deliveredMs.clear(); deliveredAt.clear(); tasks.clear()
  }
}

/** Forwards every call to `inner` unchanged and counts it in `role`. */
final class CountingObjectStore(inner: ObjectStore, role: String) extends ObjectStore {
  private def st = SinkCounters.role(role)
  override def put(bucket: String, key: String, body: Array[Byte], contentType: String,
      metadata: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    inner.put(bucket, key, body, contentType, metadata)
    st.put.record(t0, body.length.toLong)
  }
  override def get(bucket: String, key: String): Option[Array[Byte]] = {
    val t0 = System.nanoTime()
    val r = inner.get(bucket, key)
    st.get.record(t0, r.map(_.length.toLong).getOrElse(0L))
    r
  }
  override def getString(bucket: String, key: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner.getString(bucket, key)
    st.get.record(t0, r.map(_.length.toLong).getOrElse(0L))
    r
  }
  override def keys(bucket: String): Seq[String] = {
    val t0 = System.nanoTime()
    val r = inner.keys(bucket)
    st.keys.record(t0)
    r
  }
}

/** Forwards every call to `inner` unchanged, counts it in `role`, and records
  * each upsert's key and, for live chunks, its delivered latency. */
final class CountingMetadataSink(inner: MetadataSink, role: String) extends MetadataSink {
  private def st = SinkCounters.role(role)
  override def upsert(table: String, streamId: String, chunkIndex: Long,
      doc: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    inner.upsert(table, streamId, chunkIndex, doc)
    st.upsert.record(t0)
    SinkCounters.delivered
      .computeIfAbsent((table, streamId, chunkIndex), _ => new AtomicInteger()).incrementAndGet()
    if (table == "live_metadata") doc.get("timestamp").foreach { ts =>
      val now = Instant.now()
      val nowMs = now.getEpochSecond * 1000.0 + now.getNano / 1e6
      SinkCounters.deliveredMs.add(nowMs - Instant.parse(ts).toEpochMilli)
      SinkCounters.deliveredAt.add(nowMs)
    }
  }
  override def find(table: String, streamId: String, chunkIndex: Long): Option[Map[String, String]] = {
    val t0 = System.nanoTime()
    val r = inner.find(table, streamId, chunkIndex)
    st.find.record(t0)
    r
  }
  override def findLatest(table: String, streamId: String,
      pred: Map[String, String] => Boolean): Option[Map[String, String]] = {
    val t0 = System.nanoTime()
    val r = inner.findLatest(table, streamId, pred)
    st.findLatest.record(t0)
    r
  }
  override def count(table: String): Long = {
    val t0 = System.nanoTime()
    val r = inner.count(table)
    st.count.record(t0)
    r
  }
}
