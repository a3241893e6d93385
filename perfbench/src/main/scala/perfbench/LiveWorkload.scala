package perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.unsafe.Platform

import graft.streaming.{ChunkEvents, ControlPlane, Pipelines, StreamSources}
import graft.streaming.ControlPlane.StreamStartRequest
import graft.streaming.Sinks.{InMemoryMetadataSink, InMemoryObjectStore}

/** One generated live chunk event. */
final case class LiveEvent(sid: String, k: Long, seq: Long, size: Long, durMs: Long) {
  def frame(dueMs: Long): String =
    s"""{"stream_id":"$sid","chunk_index":$k,"sequence_number":$seq,""" +
      s""""timestamp":"${java.time.Instant.ofEpochMilli(dueMs)}","size_bytes":$size,""" +
      s""""stream_type":"live","status":"received","checksum":"${java.lang.Long.toHexString(seq * 31 + size)}",""" +
      s""""duration_ms":$durMs,"keyframe_aligned":true,"audio_track_id":"audio-$sid",""" +
      s""""video_track_id":"video-$sid"}"""
}

/** The seeded open-loop plan: what the generator sends in each 10 ms tick, in
  * the reference producer's shape — round-robin streams, cumulative sequence
  * gaps, a small share of pairs sent out of order within one tick, and a
  * small share of corrupt frames sent alongside the chunks. */
final case class LivePlan(warmup: Seq[LiveEvent], ticks: Array[Seq[Either[String, LiveEvent]]],
    chunks: Seq[LiveEvent], corrupt: Int, gapChunks: Long)

object LiveWorkload {
  val Rate = 500
  val Streams = 1000
  val TickMs = 10
  val GapShare = 0.01
  val OooShare = 0.01
  val CorruptShare = 0.005
  val SetupReps = 3
  val RampMs = 2000L
  /** Live manifest reads through the control plane during the window. */
  val ReadsPerS = 20
  /** MemoryStream makes one input partition per addData call (100 per second
    * here); a Kafka topic has a fixed partition count. The input is coalesced
    * to one partition per core to keep that source shape. */
  val SourcePartitions: Int = Main.Cores

  def sid(s: Int): String = f"live-$s%04d"

  def plan(seed: Long, seconds: Int): LivePlan = {
    val rng = new Rng(seed)
    val gap = Array.fill(Streams)(0L)
    def event(s: Int, k: Long): LiveEvent = {
      if (k > 0 && rng.double() < GapShare) gap(s) += 1 + rng.int(3)
      LiveEvent(sid(s), k, k + gap(s), 500000L + rng.long(0, 1500000L), 2000L + rng.long(0, 2000L))
    }
    val warmup = (0 until Streams).map(event(_, 0L))
    val total = Rate * seconds
    val chunks = (0 until total).map(e => event(e % Streams, 1L + e / Streams))
    val ticks = Array.fill(total * 1000 / Rate / TickMs + 1)(mutable.ArrayBuffer.empty[Either[String, LiveEvent]])
    val sentEarly = mutable.HashSet.empty[Int]
    var corrupt = 0
    chunks.indices.foreach { e =>
      val tick = ticks(e * 1000 / Rate / TickMs)
      val next = e + Streams
      if (!sentEarly(e)) {
        if (next < total && rng.double() < OooShare) {
          tick += Right(chunks(next)) += Right(chunks(e))
          sentEarly += next
        } else tick += Right(chunks(e))
      }
      if (rng.double() < CorruptShare) {
        corrupt += 1
        tick += Left(if (rng.int(2) == 0) s"""{"stream_id":"${chunks(e).sid}","chunk_ind"""
          else s"""{"chunk_index":${chunks(e).k},"size_bytes":1}""")
      }
    }
    LivePlan(warmup, ticks.map(_.toSeq), chunks, corrupt, gap.sum)
  }

  /** The engine's checksum rule (`ChunkEvents.checksumOk`) evaluated
    * independently: xxhash64(stream_id, chunk_index) with seed 42, pmod 50. */
  def checksumFails(sid: String, k: Long): Boolean = {
    val b = sid.getBytes(StandardCharsets.UTF_8)
    val h = XXH64.hashLong(k, XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L))
    java.lang.Math.floorMod(h, 50L) == 0L
  }

  private def sleepUntil(ms: Long): Unit = {
    var d = ms - System.currentTimeMillis()
    while (d > 0) { LockSupport.parkNanos(d * 1000000L); d = ms - System.currentTimeMillis() }
  }

  def run(spark: SparkSession, ctx: RunCtx): Outcome = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val p = plan(ctx.seed, ctx.seconds)
    val progress = new Progress
    spark.streams.addListener(progress)

    // the control plane registers every stream on the stores the last set-up
    // query writes to, so the reader below finds each stream's live manifest
    val stores = s"perfbench-live-$SetupReps"
    val admin = new ControlPlane.Api(new InMemoryObjectStore(stores), new InMemoryMetadataSink(stores),
      (_, _) => (), presignSecret = VodWorkload.Secret)
    (0 until Streams).foreach(s => admin.startStream(StreamStartRequest("home", "away", "perfbench", Some(sid(s)))))
    val api = new ControlPlane.Api(new CountingObjectStore(new InMemoryObjectStore(stores), "api"),
      new CountingMetadataSink(new InMemoryMetadataSink(stores), "api"), (_, _) => (),
      presignSecret = VodWorkload.Secret)

    // set-up: a cold query on a fresh checkpoint until its first batch (one
    // chunk for every stream) is delivered
    var stream: MemoryStream[String] = null
    var query: StreamingQuery = null
    val setupMs = (1 to SetupReps).map { rep =>
      if (query != null) { query.processAllAvailable(); query.stop() }
      SinkCounters.reset()
      stream = MemoryStream[String]
      stream.addData(p.warmup.map(_.frame(System.currentTimeMillis())))
      val t0 = System.nanoTime()
      query = Pipelines.startLive(StreamSources.frames(stream.toDF().coalesce(SourcePartitions)),
        new CountingObjectStore(new InMemoryObjectStore(s"perfbench-live-$rep"), "sink"),
        new CountingMetadataSink(new InMemoryMetadataSink(s"perfbench-live-$rep"), "sink"),
        s"${ctx.work}/ckpt-live-$rep", queryName = s"perfbench_live_$rep")
      while (SinkCounters.delivered.size < Streams && query.isActive) Thread.sleep(5)
      (System.nanoTime() - t0) / 1e6
    }
    query.processAllAvailable()
    progress.awaitBatch(query.id, query.lastProgress.batchId)
    SinkCounters.reset()

    // measured window: the open-loop generator runs for `seconds`
    val late = new Samples
    val t0 = System.currentTimeMillis() + 100
    val sent = new java.util.concurrent.atomic.AtomicLong()
    val gen = new Thread(() => {
      p.ticks.indices.foreach { i =>
        val due = t0 + i.toLong * TickMs
        sleepUntil(due)
        if (p.ticks(i).nonEmpty) {
          stream.addData(p.ticks(i).map(_.fold(identity, _.frame(due))))
          sent.addAndGet(p.ticks(i).size.toLong)
        }
        late.add((System.currentTimeMillis() - due).toDouble)
      }
    }, "perfbench-live-generator")
    val reader = new OpenLoopReader(ReadsPerS, "api.live_manifest_url", { i =>
      val id = sid((i % Streams).toInt)
      val url = api.liveManifestUrl(id).map(_._1)
      if (url.exists(u => u.contains(s"/manifests/$id/live_manifest.m3u8?") &&
          ControlPlane.validatePresigned(u, VodWorkload.Secret, java.time.Instant.now()))) None
      else Some(s"read $i of $id returned $url")
    })
    gen.start()
    gen.join()
    reader.stop()
    val tEnd = t0 + ctx.seconds * 1000L
    val deadline = System.currentTimeMillis() + 60000L
    while (SinkCounters.delivered.size < p.chunks.size && System.currentTimeMillis() < deadline && query.isActive)
      Thread.sleep(5)
    query.processAllAvailable()
    progress.awaitBatch(query.id, query.lastProgress.batchId)
    query.stop()

    val bs = progress.of(query.id).filter(_.startMs >= t0 - TickMs)
    val errors = mutable.ArrayBuffer.empty[String]
    val delivered = SinkCounters.delivered
    var failed = 0L
    p.chunks.foreach { c =>
      val n = Option(delivered.get(("live_metadata", c.sid, c.k))).map(_.get).getOrElse(0)
      if (n != 1) failed += 1
    }
    if (failed > 0) errors += s"$failed of ${p.chunks.size} chunks not delivered exactly once"
    def check(what: String, got: Long, want: Long): Unit =
      if (got != want) { errors += s"$what: engine reported $got, generator sent $want"; failed += 1 }
    check("distinct keys delivered", delivered.size, p.chunks.size)
    check("chunks", bs.map(_.obs("live_metrics.chunks")).sum, p.chunks.size)
    check("gap chunks", bs.map(_.obs("live_metrics.gap_chunks")).sum, p.gapChunks)
    check("checksum failures", bs.map(_.obs("live_metrics.checksum_failures")).sum,
      p.chunks.count(c => checksumFails(c.sid, c.k)))
    check("corrupt frames", bs.map(_.obs("decode_metrics.corrupt_rows")).sum, p.corrupt)
    check("input frames", bs.map(_.inputRows).sum, sent.get)
    failed += reader.errors.size
    errors ++= reader.errors.asScala.take(5)
    val readMs = reader.latency.values

    val lat = SinkCounters.deliveredMs.values
    val wallMs = (tEnd - t0).toDouble
    // delivered rate once the pipeline is past its first trigger: the slope of
    // the cumulative delivery count over upsert return times in
    // [t0 + RampMs, tEnd] (a least-squares fit, so batch bursts at the window
    // edges do not bias it)
    val rate = Stats.slope(SinkCounters.deliveredAt.values.filter(t => t >= t0 + RampMs && t <= tEnd)
      .sorted.zipWithIndex.map { case (t, i) => (t / 1e3, i.toDouble) })
    val sink = SinkCounters.role("sink")
    val layers = if (!ctx.trace) Map.empty[String, Metric] else {
      StreamLayers.spans("live", bs, SinkCounters.taskCharges.values)
      StreamLayers.metrics(bs, wallMs, sink, delivered.size.toLong) ++ Map(
        "gen.late_ms_p99" -> Metric(Stats.quantile(late.values, 0.99), "ms", late.size),
        "source.backlog_rows_max" -> Metric(bs.map(_.inputRows).max.toDouble, "rows", bs.size),
        "decode.rows" -> Metric(bs.map(_.inputRows).sum.toDouble, "rows", bs.size),
        "decode.corrupt_rows" -> Metric(bs.map(_.obs("decode_metrics.corrupt_rows")).sum.toDouble, "rows", bs.size),
        "decode.rows_per_s" -> decodeRate(spark, p),
        "api.reads" -> Metric(readMs.size.toDouble, "count", 1),
        "api.find_ms_p50" -> Metric(Stats.quantile(SinkCounters.role("api").find.ms.values, 0.5), "ms", readMs.size),
        "api.find_ms_p99" -> Metric(Stats.quantile(SinkCounters.role("api").find.ms.values, 0.99), "ms", readMs.size))
    }
    val work = ctx.ledger.total(k => bs.exists(b => k == s"batch:${b.batchId}"))
    Outcome(
      metrics = Map(
        "setup_s" -> Metric(Stats.median(setupMs) / 1e3, "s", SetupReps),
        "latency_p50_ms" -> Metric(Stats.quantile(lat, 0.5), "ms", lat.size),
        "latency_p95_ms" -> Metric(Stats.quantile(lat, 0.95), "ms", lat.size),
        "chunk_latency_p99_ms" -> Metric(Stats.quantile(lat, 0.99), "ms", lat.size),
        "throughput_per_s" -> Metric(rate, "1/s", p.chunks.size),
        "live_manifest_read_p50_ms" -> Metric(Stats.quantile(readMs, 0.5), "ms", readMs.size),
        "live_manifest_read_p90_ms" -> Metric(Stats.quantile(readMs, 0.9), "ms", readMs.size)),
      layers = layers,
      work = work,
      measuredMs = wallMs,
      attempted = p.chunks.size.toLong + readMs.size,
      failed = failed,
      errors = errors.toSeq,
      extra = Map("gen_late_ms_max" -> late.values.max,
        "batch_uncovered_ms" -> bs.map(b => b.batchId.toString -> StreamLayers.uncovered(b)).toMap))
  }

  /** decode -> valid -> toChunks over the run's own frames as a static frame. */
  private def decodeRate(spark: SparkSession, p: LivePlan): Metric = {
    val now = System.currentTimeMillis()
    val frames = p.ticks.toSeq.flatten.map(_.fold(identity, _.frame(now)))
    val df = StreamSources.frames(spark.createDataset(frames)(Encoders.STRING).toDF("value")).cache()
    df.count()
    val ms = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ChunkEvents.toChunks(ChunkEvents.valid(ChunkEvents.decode(df, liveDefaults = true)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    df.unpersist()
    Metric(frames.size / (Stats.median(ms) / 1e3), "rows/s", 3)
  }
}
