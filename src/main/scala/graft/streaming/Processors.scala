package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.functions.ManifestFunctions
import graft.functions.ManifestFunctions.Segment

/** Keyed streaming state (transformWithState / RocksDB) reproducing the
  * reference's driver-side per-stream state distributedly:
  *
  *  - gap detection (spark_job/spark_streaming.py:348-350,378-385): a gap
  *    fires only on a forward jump `seq > last+1`, sized `seq-last-1`; the
  *    stored seq is then updated UNCONDITIONALLY, so a late (smaller) seq
  *    silently resets the baseline — the reference's T4 quirk, preserved.
  *  - DVR last-N window + manifest (:398-456): append segment, keep last N,
  *    MEDIA-SEQUENCE = max(0, chunk_index - N + 1) computed from the chunk
  *    index, NOT window contents.
  *  - VOD manifest append (:276-316): header fixed by the first chunk's
  *    duration, then one EXTINF line per chunk, ENDLIST semantics deferred
  *    to stream end.
  *
  * Deviation (documented): the reference processes rows in single-threaded
  * Kafka arrival order; here rows within a micro-batch are processed in
  * (sequence_number, chunk_index) order per key so results are deterministic
  * under distributed, multi-partition input (SURVEY.md §7.4.2).
  */
object Processors {

  /** Everything the live sinks need for one chunk — mirrors the Mongo doc
    * of spark_streaming.py:463-486 plus the manifest/placeholder payloads. */
  final case class LiveResult(
      stream_id: String,
      chunk_index: Long,
      sequence_number: Long,
      event_ts: Timestamp,
      size_bytes: Long,
      status: String,
      checksum: String,
      duration_ms: Long,
      keyframe_aligned: Boolean,
      audio_track_id: String,
      video_track_id: String,
      checksum_ok: Boolean,
      gap_size: Long,
      chunk_path: String,
      manifest_path: String,
      manifest: String,
      dvr_window_start: Long,
      // true on the FIRST row a stream id ever produces (keyed state had no
      // entry before this batch) — the fixed-width feed for the reference's
      // "streams ever seen" gauge (spark_streaming.py:489): the driver
      // accumulates count_if(new_stream) instead of shipping the batch's
      // full distinct-id set, so the observe row stays O(1) at any stream
      // cardinality. Replay-safe: state rolls back with the checkpoint, so
      // a replayed batch recomputes the same flag.
      new_stream: Boolean = false)

  /** VOD outcome for one chunk: the status machine collapsed to its final
    * "ready" document (A8), with the reference's three observable
    * transitions (uploaded→processing→transcoding→ready,
    * spark_streaming.py:221-224,239-242,323-333) preserved as ordered audit
    * timestamps — processing_started_at <= transcoding_started_at <=
    * completed_at, captured at the corresponding points of the per-chunk
    * fold (no transcode sleep is simulated, so they are typically
    * milliseconds apart; the reference's now_iso() stamps are equally
    * wall-clock). */
  final case class VodResult(
      stream_id: String,
      chunk_index: Long,
      event_ts: Timestamp,
      size_bytes: Long,
      status: String,
      checksum: String,
      duration_ms: Long,
      resolution: String,
      checksum_ok: Boolean,
      raw_path: String,
      variant_paths: Seq[String],
      manifest_path: String,
      manifest: String,
      title: String,
      processing_started_at: Timestamp,
      transcoding_started_at: Timestamp,
      completed_at: Timestamp)

  val QualityVariants: Seq[String] = Seq("1080p", "720p", "480p", "360p")

  // Built once per JVM: every state task's processor init needs it, and
  // Encoders.product reflects under Scala's global lock.
  private val segmentEncoder: Encoder[Segment] = Encoders.product[Segment]

  private def sortedBySeq(rows: Iterator[ChunkEvents.Chunk]): Iterator[ChunkEvents.Chunk] =
    rows.toSeq.sortBy(c => (c.sequence_number, c.chunk_index)).iterator

  /** Live fast path: gap detection + DVR window + manifest, one state
    * partition per stream_id (serializes read-modify-write per key without
    * a driver bottleneck — SURVEY.md §7.4.3). */
  final class LiveProcessor(windowSize: Int = ManifestFunctions.DefaultDvrWindowSize)
      extends StatefulProcessor[String, ChunkEvents.Chunk, LiveResult] {

    @transient private var lastSeq: ValueState[Long] = _
    @transient private var window: ListState[Segment] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSeq = getHandle.getValueState[Long]("lastSeq", Encoders.scalaLong, TTLConfig.NONE)
      window = getHandle.getListState[Segment]("window", segmentEncoder, TTLConfig.NONE)
    }

    override def handleInputRows(
        streamId: String,
        rows: Iterator[ChunkEvents.Chunk],
        timerValues: TimerValues): Iterator[LiveResult] = {
      var segments = window.get().toVector
      val out = Vector.newBuilder[LiveResult]
      // key-is-new BEFORE any update: feeds the streams-ever-seen gauge
      var newKey = !lastSeq.exists()
      sortedBySeq(rows).foreach { c =>
        val gap =
          if (lastSeq.exists() && c.sequence_number > lastSeq.get() + 1)
            c.sequence_number - lastSeq.get() - 1
          else 0L
        lastSeq.update(c.sequence_number) // unconditional: late seq resets (T4)

        val uri = ManifestFunctions.chunkUri(streamId, c.chunk_index)
        segments = ManifestFunctions
          .slideWindow(segments :+ Segment(c.duration_ms / 1000.0, uri), windowSize)
          .toVector
        val manifest =
          ManifestFunctions.buildLiveManifest(segments, c.chunk_index, windowSize)

        out += LiveResult(
          stream_id = streamId,
          chunk_index = c.chunk_index,
          sequence_number = c.sequence_number,
          event_ts = c.event_ts,
          size_bytes = c.size_bytes,
          status = "live",
          checksum = c.checksum,
          duration_ms = c.duration_ms,
          keyframe_aligned = true,
          audio_track_id = c.audio_track_id,
          video_track_id = c.video_track_id,
          checksum_ok = c.checksum_ok,
          gap_size = gap,
          chunk_path = s"live-streams/$uri",
          manifest_path = s"manifests/$streamId/live_manifest.m3u8",
          manifest = manifest,
          dvr_window_start = math.max(0L, c.chunk_index - windowSize + 1),
          new_stream = newKey)
        newKey = false // only the key's first row carries the flag
      }
      window.put(segments.toArray)
      out.result().iterator
    }
  }

  /** VOD path: status-machine fold + append-only manifest. The manifest
    * header's TARGETDURATION is pinned by the FIRST chunk (the reference
    * initializes the header once and re-reads it afterwards,
    * spark_streaming.py:285-301).
    *
    * STATE-GROWTH CAP: the reference's append-only VOD manifest needs every
    * segment line ever seen, but keyed state must stay bounded (RocksDB
    * value-size and per-chunk CPU at multi-thousand-chunk VOD). So the
    * ListState keeps at most `maxStateSegments` segments; older ones are
    * spilled — as already-rendered manifest lines behind a spill-count
    * marker — to the ObjectStore at [[VodProcessor.spillKey]], and the full
    * manifest is head (spilled lines) + tail (state). The marker makes the
    * spill append idempotent under micro-batch replay: state rolls back
    * with the checkpoint and re-evicts the same segments, but lines at
    * indices below the marker are never re-appended. Streams shorter than
    * the cap (every real VOD today — uploads are single-chunk,
    * api/main.py:226) never touch the store from here. Per-key
    * read-modify-write is safe because a key lives on exactly one state
    * partition. */
  final class VodProcessor(
      maxStateSegments: Int = VodProcessor.DefaultMaxStateSegments,
      spillStore: Option[Sinks.ObjectStore] = None)
      extends StatefulProcessor[String, ChunkEvents.Chunk, VodResult] {

    @transient private var targetDur: ValueState[Long] = _
    @transient private var segments: ListState[Segment] = _
    @transient private var spilledCount: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      targetDur = getHandle.getValueState[Long]("targetDur", Encoders.scalaLong, TTLConfig.NONE)
      segments = getHandle.getListState[Segment]("segments", segmentEncoder, TTLConfig.NONE)
      spilledCount = getHandle.getValueState[Long]("spilledCount", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        streamId: String,
        rows: Iterator[ChunkEvents.Chunk],
        timerValues: TimerValues): Iterator[VodResult] = {
      var segs = segments.get().toVector
      val spilled = if (spilledCount.exists()) spilledCount.get() else 0L
      // Spilled manifest head, read ONCE per (key, batch) and TRUNCATED to
      // the state's own count: after a mid-batch failure the spill object
      // can be AHEAD of the rolled-back state (its appends are not
      // transactional with the checkpoint), and the surplus lines are
      // exactly the segments the replay re-delivers through `segs` — using
      // the store's full head would emit them twice. Truncation makes the
      // emitted manifest a pure function of (head prefix, state), so a
      // replayed batch reproduces byte-identical manifests.
      val head =
        if (spilled == 0) ""
        else VodProcessor.spillHeadLines(spillStore.getOrElse(
          throw new IllegalStateException(
            s"VOD state for '$streamId' was restored with $spilled spilled " +
              "segments but the processor has no spillStore configured; " +
              "restart the query with the spill store the checkpoint was " +
              "written against")), streamId, spilled)
      val out = Vector.newBuilder[VodResult]
      sortedBySeq(rows).foreach { c =>
        // A8 audit trail: stamp each status transition of the fold
        // (uploaded->processing here; ->transcoding after the segment is
        // prepared; ->ready at emit). Successive calls guarantee ordering.
        val processingAt = new Timestamp(System.currentTimeMillis())
        val durSec = c.duration_ms / 1000.0
        if (!targetDur.exists()) targetDur.update(durSec.toLong + 1)
        val uri = s"$streamId/1080p/${c.chunk_index}.ts"
        segs = segs :+ Segment(durSec, uri)
        val transcodingAt = new Timestamp(
          math.max(System.currentTimeMillis(), processingAt.getTime))

        val manifest = {
          val sb = new StringBuilder
          sb ++= "#EXTM3U\n#EXT-X-VERSION:3\n"
          sb ++= s"#EXT-X-TARGETDURATION:${targetDur.get()}\n"
          sb ++= "#EXT-X-PLAYLIST-TYPE:VOD\n"
          sb ++= head
          segs.foreach(s => sb ++= ManifestFunctions.segmentLine(s.durationSeconds, s.uri))
          sb.toString
        }

        out += VodResult(
          stream_id = streamId,
          chunk_index = c.chunk_index,
          event_ts = c.event_ts,
          size_bytes = c.size_bytes,
          status = "ready",
          checksum = c.checksum,
          duration_ms = c.duration_ms,
          resolution = c.resolution,
          checksum_ok = c.checksum_ok,
          raw_path = s"vod-raw/$streamId/raw/${c.chunk_index}.ts",
          variant_paths = QualityVariants.map(q => s"vod-variants/$streamId/$q/${c.chunk_index}.ts"),
          manifest_path = s"manifests/$streamId/vod_manifest.m3u8",
          manifest = manifest,
          title = c.title,
          processing_started_at = processingAt,
          transcoding_started_at = transcodingAt,
          completed_at = new Timestamp(
            math.max(System.currentTimeMillis(), transcodingAt.getTime)))
      }
      // Evict ONCE per (key, batch): segments beyond the cap spill in a
      // single read-modify-write (vs one per chunk), manifest content is
      // unaffected (head + segs covers every segment either way), and the
      // marker makes a replayed eviction a store no-op.
      var newSpilled = spilled
      spillStore.foreach { store =>
        if (segs.size > maxStateSegments) {
          val evicted = segs.dropRight(maxStateSegments)
          VodProcessor.appendSpill(store, streamId, spilled, evicted)
          newSpilled = spilled + evicted.size
          segs = segs.takeRight(maxStateSegments)
        }
      }
      segments.put(segs.toArray)
      spilledCount.update(newSpilled)
      out.result().iterator
    }
  }

  object VodProcessor {
    /** Segments kept in keyed state before spilling manifest lines to the
      * ObjectStore. 512 lines x ~60 B is a ~30 KB RocksDB value ceiling. */
    val DefaultMaxStateSegments: Int = 512

    private[streaming] def spillKey(streamId: String): String =
      s"$streamId/.vod_manifest_head"

    /** Append `evicted` segments' manifest lines to the spill object,
      * given that `already` segments were spilled before this call. The
      * object's first line is a `#GRAFT-SPILL-COUNT:<n>` marker; lines for
      * indices below the marker are never re-appended, which makes replayed
      * evictions (micro-batch retry after state rollback) no-ops.
      *
      * Stale-writer guard: "one state partition per key" orders committed
      * batches but NOT overlapping task ATTEMPTS — a zombie attempt
      * (retried/abandoned task still running after its stage re-ran) could
      * read an old head and overwrite a newer one with a smaller marker,
      * silently shrinking the durable head. So the marker is re-read
      * immediately before the put and the read-modify-write loops if it
      * moved, a marker strictly behind the state's own count fails loudly
      * (below), and [[spillHeadLines]] re-checks at read time that the head
      * covers the state's count — a shrink can no longer pass silently.
      * (With a CAS-capable object store, a conditional put on the marker
      * would close the residual read-put window entirely.) */
    private[streaming] def appendSpill(store: Sinks.ObjectStore, streamId: String,
        already: Long, evicted: Seq[Segment]): Unit = {
      val key = spillKey(streamId)
      val target = already + evicted.size
      def readMarkerBody(): (Long, String) = store.getString("manifests", key) match {
        case Some(s) =>
          val parts = s.split("\n", 2)
          (parts(0).stripPrefix("#GRAFT-SPILL-COUNT:").toLong,
            if (parts.length > 1) parts(1) else "")
        case None => (0L, "")
      }
      var attempts = 0
      while (attempts < 5) {
        val (marker, body) = readMarkerBody()
        if (marker >= target) return // replayed eviction: already durable
        if (marker < already) throw new IllegalStateException(
          s"spill head marker $marker is behind the state's spilled count " +
            s"$already for '$streamId': the spill object was shrunk (stale " +
            "writer?) and the manifest head can no longer be reconstructed " +
            "from it safely")
        val fresh = evicted.drop((marker - already).toInt)
        val lines = fresh.map(s => ManifestFunctions.segmentLine(s.durationSeconds, s.uri))
        // last-writer-wins safety: only put if the marker did not move
        // between the read and now; otherwise merge against the newer head
        if (readMarkerBody()._1 == marker) {
          store.put("manifests", key,
            (s"#GRAFT-SPILL-COUNT:$target\n" + body + lines.mkString)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8),
            "text/plain", Map("stream_id" -> streamId))
          return
        }
        attempts += 1
      }
      throw new IllegalStateException(
        s"spill head for '$streamId' kept advancing under concurrent writers")
    }

    /** The spilled manifest lines (marker stripped), "" if nothing spilled. */
    private[streaming] def spillHead(store: Sinks.ObjectStore, streamId: String): String =
      store.getString("manifests", spillKey(streamId)) match {
        case Some(s) => s.split("\n", 2) match {
          case Array(_, b) => b
          case _ => ""
        }
        case None => ""
      }

    /** The first `count` spilled segments' lines. The store can run AHEAD
      * of the keyed state after a mid-batch failure (spill appends are not
      * transactional with the checkpoint), so manifest assembly must take
      * only the prefix the state has accounted for — each segment is
      * exactly two lines (#EXTINF + uri). A head SHORTER than the state's
      * count means the spill object was shrunk or lost (see [[appendSpill]]'s
      * stale-writer guard) — that fails loudly here instead of silently
      * dropping manifest lines. */
    private[streaming] def spillHeadLines(store: Sinks.ObjectStore, streamId: String,
        count: Long): String = {
      val body = spillHead(store, streamId)
      // take 2*count lines; indexOf-based walk avoids splitting the tail
      var pos = 0
      var lines = 0L
      val target = 2L * count
      while (lines < target && pos < body.length) {
        val nl = body.indexOf('\n', pos)
        if (nl < 0) { pos = body.length; lines += 1 }
        else { pos = nl + 1; lines += 1 }
      }
      if (lines < target) throw new IllegalStateException(
        s"spill head for '$streamId' holds $lines manifest lines but the " +
          s"state accounts for $count spilled segments ($target lines): the " +
          "spill object was shrunk or lost and the manifest cannot be " +
          "reconstructed safely")
      body.substring(0, pos)
    }
  }

  implicit val liveResultEncoder: Encoder[LiveResult] = Encoders.product[LiveResult]
  implicit val vodResultEncoder: Encoder[VodResult] = Encoders.product[VodResult]
}
