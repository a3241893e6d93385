package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One micro-batch as Spark's progress surface reports it. */
final case class Batch(
    query: java.util.UUID,
    batchId: Long,
    startMs: Double,
    durations: Map[String, Long],
    inputRows: Long,
    observed: Map[String, Long],
    commitMs: Long,
    stateRowsTotal: Long,
    stateRowsUpdated: Long,
    stateMemoryBytes: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + triggerMs
  def obs(k: String): Long = observed.getOrElse(k, 0L)
}

/** Bench-owned StreamingQueryListener: keeps every progress event. */
final class Progress extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val observed = p.observedMetrics.asScala.toSeq.flatMap { case (name, row) =>
      row.schema.fieldNames.toSeq.flatMap { f =>
        row.getAs[Any](f) match {
          case n: java.lang.Number => Some(s"$name.$f" -> n.longValue())
          case _ => None
        }
      }
    }.toMap
    val so = p.stateOperators.toSeq
    batches.add(Batch(p.id, p.batchId, epochMs(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      p.numInputRows, observed,
      so.map(_.commitTimeMs).sum, so.map(_.numRowsTotal).sum,
      so.map(_.numRowsUpdated).sum, so.map(_.memoryUsedBytes).sum))
  }

  private def epochMs(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli.toDouble

  /** The query's batches that ran (idle progress events carry no addBatch). */
  def of(query: java.util.UUID): Seq[Batch] =
    batches.asScala.filter(b => b.query == query && b.durations.contains("addBatch"))
      .toVector.sortBy(_.batchId)

  /** Wait until the query's progress for `batchId` has been delivered. */
  def awaitBatch(query: java.util.UUID, batchId: Long, timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        !batches.asScala.exists(b => b.query == query && b.batchId >= batchId)) Thread.sleep(20)
  }
}

/** Per-layer metrics and spans shared by the two stream workloads. */
object StreamLayers {
  /** Phase order inside one trigger (MicroBatchExecution). */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def q(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)

  /** trigger.*, state.* and sink.* metrics over `bs` measured in `wallMs`. */
  def metrics(bs: Seq[Batch], wallMs: Double, sink: RoleStats, chunksDelivered: Long): Map[String, Metric] = {
    val n = bs.size.toLong
    def phase(k: String) = bs.map(_.durations.getOrElse(k, 0L).toDouble)
    val addBatchMs = Stats.sum(phase("addBatch"))
    val sinkMs = sink.busyMs
    val upserts = sink.upsert.calls.sum
    Map(
      "trigger.batches" -> Metric(n.toDouble, "count", n),
      "trigger.batch_ms_p50" -> Metric(q(phase("triggerExecution"), 0.5), "ms", n),
      "trigger.batch_ms_p99" -> Metric(q(phase("triggerExecution"), 0.99), "ms", n),
      "trigger.latest_offset_ms_p50" -> Metric(q(phase("latestOffset"), 0.5), "ms", n),
      "trigger.planning_ms_p50" -> Metric(q(phase("queryPlanning"), 0.5), "ms", n),
      "trigger.add_batch_ms_p50" -> Metric(q(phase("addBatch"), 0.5), "ms", n),
      "trigger.wal_commit_ms_p50" -> Metric(q(phase("walCommit"), 0.5), "ms", n),
      "trigger.commit_offsets_ms_p50" -> Metric(q(phase("commitOffsets"), 0.5), "ms", n),
      "trigger.uncovered_ms_p50" -> Metric(q(bs.map(uncovered), 0.5), "ms", n),
      "trigger.idle_share" -> Metric(math.max(0.0, 1.0 - Stats.sum(phase("triggerExecution")) / wallMs), "ratio", n),
      "state.commit_ms_p50" -> Metric(q(bs.map(_.commitMs.toDouble), 0.5), "ms", n),
      "state.commit_ms_p99" -> Metric(q(bs.map(_.commitMs.toDouble), 0.99), "ms", n),
      "state.rows_total" -> Metric(bs.lastOption.map(_.stateRowsTotal.toDouble).getOrElse(0.0), "count", 1),
      "state.rows_updated" -> Metric(bs.map(_.stateRowsUpdated.toDouble).sum, "count", n),
      "state.memory_bytes" -> Metric(if (bs.isEmpty) 0.0 else bs.map(_.stateMemoryBytes).max.toDouble, "bytes", n),
      "sink.puts" -> Metric(sink.put.calls.sum.toDouble, "count", 1),
      "sink.put_ms_sum" -> Metric(sink.put.msSum, "ms", sink.put.calls.sum),
      "sink.put_ms_p99" -> Metric(q(sink.put.ms.values, 0.99), "ms", sink.put.calls.sum),
      "sink.gets" -> Metric(sink.get.calls.sum.toDouble, "count", 1),
      "sink.get_ms_sum" -> Metric(sink.get.msSum, "ms", sink.get.calls.sum),
      "sink.bytes_written" -> Metric(sink.put.bytes.sum.toDouble, "bytes", sink.put.calls.sum),
      "sink.bytes_per_chunk" -> Metric(sink.put.bytes.sum.toDouble / math.max(1L, upserts), "bytes", upserts),
      "sink.upserts" -> Metric(upserts.toDouble, "count", 1),
      "sink.upsert_ms_sum" -> Metric(sink.upsert.msSum, "ms", upserts),
      "sink.upsert_ms_p99" -> Metric(q(sink.upsert.ms.values, 0.99), "ms", upserts),
      // sink time over the core time addBatch had (its wall time on every core)
      "sink.busy_share" -> Metric(sinkMs / math.max(1.0, addBatchMs * Main.Cores), "ratio", n),
      "sink.useful_ratio" -> Metric(chunksDelivered.toDouble / math.max(1L, upserts), "ratio", upserts))
  }

  /** Part of `triggerExecution` that no reported phase covers. */
  def uncovered(b: Batch): Double =
    b.triggerMs - Phases.map(b.durations.getOrElse(_, 0L)).sum.toDouble

  /** One span per batch, its phases laid out in execution order, and each
    * task's summed sink time under the batch's addBatch phase. */
  def spans(trace: String, bs: Seq[Batch], charges: Iterable[TaskCharge]): Unit = {
    val addBatchSpan = scala.collection.mutable.HashMap.empty[String, Long]
    bs.foreach { b =>
      val id = Tracer.nextId()
      Tracer.add(Span(id, trace, "stream.batch", b.startMs, b.endMs, 0L,
        Map("batch_id" -> b.batchId, "input_rows" -> b.inputRows, "uncovered_ms" -> uncovered(b))))
      var t = b.startMs
      Phases.foreach { p =>
        val d = b.durations.getOrElse(p, 0L).toDouble
        val pid = Tracer.nextId()
        Tracer.add(Span(pid, trace, s"phase.$p", t, t + d, id))
        if (p == "addBatch") addBatchSpan(b.batchId.toString) = pid
        t += d
      }
    }
    charges.foreach { c =>
      addBatchSpan.get(c.batch).foreach { parent =>
        Tracer.add(Span(Tracer.nextId(), trace, "sink.task", c.startMs, c.endMs, parent,
          Map("calls" -> c.calls, "busy_ms" -> c.busyMs)))
      }
    }
  }
}
