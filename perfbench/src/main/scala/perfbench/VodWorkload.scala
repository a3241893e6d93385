package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.streaming.{ControlPlane, Pipelines, StreamSources}
import graft.streaming.Sinks.{FileMetadataSink, FileObjectStore}

/** `vod-backfill`: drain a fixed, seeded backlog of VOD upload events through
  * the durable sinks while one reader asks the control plane for manifest URLs
  * on an open-loop schedule. Every stream runs past the keyed-state cap, so the
  * spill read-modify-write is part of the drain. */
object VodWorkload {
  val Streams = 4
  val WarmSegments = 8 // segments per stream in the warm-up file
  val FileSegments = 32 // segments per stream in one backlog file
  val BacklogFiles = 16 // 8 + 16 x 32 = 520 segments per stream, past the 512 cap
  /** One read every 50 ms. A read lists the stream's manifest directory and
    * parses its metadata in about 2 ms, so the reader is busy for about 4% of
    * the drain (`reader_busy_share`) and its latency is not queueing. */
  val ReadsPerS = 20
  val CorruptShare = 0.005
  val SetupReps = 3
  val Secret = "graft-dev-secret"
  val BaseEpochS = 1767225600L // 2026-01-01T00:00:00Z

  /** The first stream ids `vod-<n>` that land in distinct shuffle partitions
    * (Spark's Murmur3 `hash(stream_id)` pmod the partition count), so every
    * core drains one stream and no run depends on how the ids collide. */
  val ids: IndexedSeq[String] = Iterator.from(0).map(n => s"vod-$n")
    .map { id =>
      val b = id.getBytes(StandardCharsets.UTF_8)
      id -> Math.floorMod(Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42), Main.Cores)
    }
    .scanLeft((Set.empty[Int], Option.empty[String])) { case ((seen, _), (id, part)) =>
      if (seen(part)) (seen, None) else (seen + part, Some(id))
    }
    .flatMap(_._2).take(Streams).toIndexedSeq

  def segments: Int = WarmSegments + FileSegments * BacklogFiles

  /** Lines of input file `f` (0 = warm-up) for every stream, chunk indices in
    * order, plus a small share of corrupt lines. */
  def file(seed: Long, f: Int): (Seq[String], Int, Seq[(String, Long)]) = {
    val rng = new Rng(seed * 1000 + f)
    val lines = mutable.ArrayBuffer.empty[String]
    val chunks = mutable.ArrayBuffer.empty[(String, Long)]
    var corrupt = 0
    val first = if (f == 0) 0 else WarmSegments + (f - 1) * FileSegments
    val until = if (f == 0) WarmSegments else first + FileSegments
    for (k <- first until until; s <- 0 until Streams) {
      val id = ids(s)
      chunks += id -> k.toLong
      lines += s"""{"stream_id":"$id","chunk_index":$k,"timestamp":"${java.time.Instant.ofEpochSecond(BaseEpochS + k)}",""" +
        s""""size_bytes":${8000000L + rng.long(0, 42000000L)},"stream_type":"vod","status":"uploaded",""" +
        s""""checksum":"${java.lang.Long.toHexString(rng.long(0, Long.MaxValue))}",""" +
        s""""duration_ms":${4000L + rng.long(0, 4000L)},"resolution":"1920x1080",""" +
        s""""keyframe_aligned":true,"audio_track_id":"audio-$id","title":"Match $id",""" +
        s""""raw_path":"vod-raw/$id/raw/$k.ts"}"""
      if (rng.double() < CorruptShare) {
        corrupt += 1
        lines += s"""{"stream_id":"$id","chunk_index":$k,"durat"""
      }
    }
    (lines.toSeq, corrupt, chunks.toSeq)
  }

  /** The file source takes files oldest first, so each file gets its own
    * modification time in chunk order. */
  private def write(dir: String, f: Int, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val p = Files.write(Paths.get(dir, f"part-$f%03d.json"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(BaseEpochS * 1000L + f * 1000L))
  }

  def run(spark: SparkSession, ctx: RunCtx): Outcome = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val warm = file(ctx.seed, 0)
    val backlog = (1 to BacklogFiles).map(file(ctx.seed, _))
    var dirs = ("", "", "", "")
    def start(name: String) = {
      val (src, ckpt, store, meta) = dirs
      Pipelines.startVod(StreamSources.fileJsonLines(spark, src, maxFilesPerTrigger = 1),
        new CountingObjectStore(new FileObjectStore(store), "sink"),
        new CountingMetadataSink(new FileMetadataSink(meta), "sink"),
        ckpt, trigger = Trigger.AvailableNow(), queryName = name)
    }

    // set-up: a cold query over fresh durable stores drains the warm-up file
    var queryId: java.util.UUID = null
    val setupMs = (1 to SetupReps).map { rep =>
      val d = s"${ctx.work}/vod-$rep"
      dirs = (s"$d/src", s"$d/ckpt", s"$d/store", s"$d/meta")
      SinkCounters.reset()
      write(dirs._1, 0, warm._1)
      val t0 = System.nanoTime()
      val q = start(s"perfbench_vod_$rep")
      q.awaitTermination()
      queryId = q.id
      (System.nanoTime() - t0) / 1e6
    }
    backlog.zipWithIndex.foreach { case (b, i) => write(dirs._1, i + 1, b._1) }
    val (_, _, storeDir, metaDir) = dirs
    val api = new ControlPlane.Api(new CountingObjectStore(new FileObjectStore(storeDir), "api"),
      new CountingMetadataSink(new FileMetadataSink(metaDir), "api"), (_, _) => (), presignSecret = Secret)

    // measured window: the backlog drain, with open-loop manifest reads
    val t0 = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    val reader = new OpenLoopReader(ReadsPerS, "api.vod_manifest_url", { i =>
      val id = ids((i % Streams).toInt)
      val url = api.vodManifestUrl(id)
      if (url.exists(u => u.contains(s"/manifests/$id/vod_manifest.m3u8?") &&
          ControlPlane.validatePresigned(u, Secret, java.time.Instant.now()))) None
      else Some(s"read $i of $id returned $url")
    })
    val q = start("perfbench_vod_3")
    q.awaitTermination()
    val drainMs = (System.nanoTime() - t0Ns) / 1e6
    reader.stop()
    Option(q.lastProgress).foreach(lp => progress.awaitBatch(queryId, lp.batchId))

    // correctness: every chunk upserted once, engine counts match the input,
    // and each final manifest lists every segment in order
    val all = progress.of(queryId)
    val drain = all.filter(_.startMs >= t0)
    val errors = mutable.ArrayBuffer.empty[String]
    val chunks = (warm +: backlog).flatMap(_._3)
    var failed = chunks.count { case (s, k) =>
      Option(SinkCounters.delivered.get(("vod_metadata", s, k))).map(_.get).getOrElse(0) != 1
    }.toLong
    if (failed > 0) errors += s"$failed of ${chunks.size} chunks not delivered exactly once"
    def check(what: String, got: Long, want: Long): Unit =
      if (got != want) { errors += s"$what: engine reported $got, generator sent $want"; failed += 1 }
    check("distinct keys delivered", SinkCounters.delivered.size, chunks.size)
    check("chunks", all.map(_.obs("vod_metrics.chunks")).sum, chunks.size)
    check("checksum failures", all.map(_.obs("vod_metrics.checksum_failures")).sum,
      chunks.count { case (s, k) => LiveWorkload.checksumFails(s, k) })
    check("corrupt lines", all.map(_.obs("vod_decode_metrics.corrupt_rows")).sum,
      (warm +: backlog).map(_._2).sum)
    val store = new FileObjectStore(storeDir)
    ids.foreach { id =>
      val uris = store.getString("manifests", s"$id/vod_manifest.m3u8").getOrElse("")
        .split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
      val want = (0 until segments).map(k => s"$id/1080p/$k.ts")
      if (uris != want) { errors += s"$id manifest lists ${uris.size} segments, not 0..${segments - 1} in order"; failed += 1 }
    }
    failed += reader.errors.size
    errors ++= reader.errors.asScala.take(5)

    val backlogChunks = backlog.map(_._3.size).sum
    val readMs = reader.latency.values
    val api_ = SinkCounters.role("api")
    val layers = if (!ctx.trace) Map.empty[String, Metric] else {
      StreamLayers.spans("vod", drain, SinkCounters.taskCharges.values)
      val delivered = SinkCounters.delivered.size.toLong
      StreamLayers.metrics(drain, drainMs, SinkCounters.role("sink"), delivered) ++ Map(
        "gen.late_ms_p99" -> Metric(Stats.quantile(reader.late.values, 0.99), "ms", reader.late.size),
        "source.backlog_rows_max" -> Metric(drain.map(_.inputRows).max.toDouble, "rows", drain.size),
        "decode.rows" -> Metric(drain.map(_.inputRows).sum.toDouble, "rows", drain.size),
        "decode.corrupt_rows" -> Metric(drain.map(_.obs("vod_decode_metrics.corrupt_rows")).sum.toDouble, "rows", drain.size),
        "api.reads" -> Metric(api_.findLatest.calls.sum.toDouble, "count", 1),
        "api.find_latest_ms_p50" -> Metric(Stats.quantile(api_.findLatest.ms.values, 0.5), "ms", api_.findLatest.calls.sum),
        "api.find_latest_ms_p99" -> Metric(Stats.quantile(api_.findLatest.ms.values, 0.99), "ms", api_.findLatest.calls.sum))
    }
    val work = ctx.ledger.total(k => drain.exists(b => k == s"batch:${b.batchId}"))
    Outcome(
      metrics = Map(
        "setup_s" -> Metric(Stats.median(setupMs) / 1e3, "s", SetupReps),
        "latency_p50_ms" -> Metric(Stats.quantile(readMs, 0.5), "ms", readMs.size),
        "latency_p95_ms" -> Metric(Stats.quantile(readMs, 0.95), "ms", readMs.size),
        "reader_busy_share" -> Metric(reader.busyShare(drainMs), "ratio", readMs.size),
        "throughput_per_s" -> Metric(backlogChunks / (drainMs / 1e3), "1/s", backlogChunks),
        "vod_batch_chunks_per_s" -> Metric(
          Stats.median(drain.map(b => b.obs("vod_metrics.chunks") / (b.triggerMs / 1e3))), "1/s", drain.size)),
      layers = layers,
      work = work,
      measuredMs = drainMs,
      attempted = chunks.size.toLong + readMs.size,
      failed = failed,
      errors = errors.toSeq,
      extra = Map("drain_batches" -> drain.size,
        "batch_uncovered_ms" -> drain.map(b => b.batchId.toString -> StreamLayers.uncovered(b)).toMap))
  }
}
