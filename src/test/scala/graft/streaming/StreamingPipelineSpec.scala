package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.ManifestFunctions
import graft.functions.ManifestFunctions.Segment
import graft.streaming.Processors.LiveResult

/** Drives MemoryStream JSON -> decode -> transformWithState (RocksDB keyed
  * state) -> sinks, and pins:
  *  - gap/manifest/upsert results equal to the batch (q21/q22/q27-shaped)
  *    window-function forms over the same chunks,
  *  - the reference's late-seq reset quirk (T4, spark_streaming.py:378-385),
  *  - corrupt-row isolation (P6) with an observe()d dead-letter count,
  *  - sink idempotency under micro-batch replay (T2 exactly-once story).
  */
class StreamingPipelineSpec extends SparkSpec {

  private def eventJson(streamId: String, idx: Long, seq: Long, durationMs: Long): String =
    s"""{"stream_id":"$streamId","chunk_index":$idx,"sequence_number":$seq,""" +
      s""""timestamp":"2026-01-01T00:00:00+00:00","size_bytes":${500000 + idx},""" +
      s""""stream_type":"live","status":"received","checksum":"c$idx",""" +
      s""""duration_ms":$durationMs,"keyframe_aligned":true,""" +
      s""""audio_track_id":"aud","video_track_id":"vid"}"""

  private def dur(i: Long): Long = 2000 + (i * 37) % 2000

  /** Official metrics flow ONLY through the driver-side listener now; tests
    * attach one per test and remove it so suites can't double-register. */
  private def withListener[T](body: => T): T = {
    val l = new Metrics.ProgressListener
    spark.streams.addListener(l)
    try body finally spark.streams.removeListener(l)
  }

  /** Listener bus is async — poll until `name` reaches `expected`. */
  private def awaitCounter(name: String, expected: Long): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (Metrics.counter(name) < expected && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  test("live pipeline: streaming state matches batch window-function semantics") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t1-obj")
    Sinks.InMemoryMetadataSink.clear("t1-meta")
    val objects = new Sinks.InMemoryObjectStore("t1-obj")
    val meta = new Sinks.InMemoryMetadataSink("t1-meta")

    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-live1").toString

    // stream-a: indexes 0..6,9..19 (missing 7,8 -> one gap of 2)
    // stream-b: indexes 0..14, contiguous
    val aIdx = (0L to 6L) ++ (9L to 19L)
    val bIdx = 0L to 14L
    val eventsA = aIdx.map(i => eventJson("stream-a", i, i, dur(i)))
    val eventsB = bIdx.map(i => eventJson("stream-b", i, i, dur(i)))

    withListener {
      val q = Pipelines.startLive(StreamSources.frames(stream.toDF()), objects, meta,
        ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-t1")
      try {
        // two micro-batches to prove state persists across batches
        stream.addData(eventsA.take(9) ++ eventsB.take(7))
        q.processAllAvailable()
        stream.addData(eventsA.drop(9) ++ eventsB.drop(7))
        q.processAllAvailable()
        awaitCounter("spark_live_chunks_processed_total", (aIdx.size + bIdx.size).toLong)
      } finally q.stop()
    }

    // -- upsert sink: one doc per (stream, chunk), all fields present
    assert(meta.count("live_metadata") === (aIdx.size + bIdx.size).toLong)
    val doc = meta.find("live_metadata", "stream-a", 9L).get
    assert(doc("sequence_number") === "9")
    assert(doc("chunk_path") === "live-streams/stream-a/chunks/9.ts")
    assert(doc("dvr_window_start") === "0")

    // -- placeholder objects: one per chunk
    assert(objects.keys("live-streams").size === aIdx.size + bIdx.size)

    // -- gap metric == batch q21 semantics (sum of seq jumps) == 2
    val batchDf = (aIdx.map(("stream-a", _)) ++ bIdx.map(("stream-b", _)))
      .toDF("stream_id", "chunk_index")
    val w = Window.partitionBy($"stream_id").orderBy($"chunk_index")
    val batchMissing = batchDf
      .withColumn("prev", lag($"chunk_index", 1).over(w))
      .filter($"prev".isNotNull && $"chunk_index" > $"prev" + 1)
      .agg(coalesce(sum($"chunk_index" - $"prev" - 1), lit(0L)))
      .head.getLong(0)
    assert(batchMissing === 2L)
    assert(Metrics.counter("live_chunk_gaps_total") === batchMissing)

    // -- final manifest == batch q22/q27 semantics (last-10 by chunk_index)
    for ((sid, idxs) <- Seq("stream-a" -> aIdx, "stream-b" -> bIdx)) {
      val last10 = idxs.takeRight(10)
      val expected = ManifestFunctions.buildLiveManifest(
        last10.map(i => Segment(dur(i) / 1000.0, s"$sid/chunks/$i.ts")),
        latestChunkIndex = idxs.last)
      assert(objects.getString("manifests", s"$sid/live_manifest.m3u8").get === expected,
        s"manifest mismatch for $sid")
    }

    // -- checksum metric matches the deterministic flag over all chunks
    // (computed via the same expression decode uses)
    val flagged = batchDf.select(count_if(!ChunkEvents.checksumOk($"stream_id", $"chunk_index"))).head.getLong(0)
    assert(Metrics.counter("chunk_checksum_failures_total{stream_type=live}") === flagged)
    assert(Metrics.activeLiveStreams === 2)
    assert(Metrics.counter("spark_live_chunks_processed_total") === (aIdx.size + bIdx.size).toLong)
  }

  test("late-seq reset quirk (T4): smaller seq resets state without a gap") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t2-obj")
    Sinks.InMemoryMetadataSink.clear("t2-meta")
    val objects = new Sinks.InMemoryObjectStore("t2-obj")
    val meta = new Sinks.InMemoryMetadataSink("t2-meta")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-live2").toString
    withListener {
      val q = Pipelines.startLive(StreamSources.frames(stream.toDF()), objects, meta,
        ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-t2")
      try {
        // one event per micro-batch: arrival order is exactly seq order below
        // seqs: 0,1,2,5 (gap 2), 3 (late -> silent reset), 7 (gap 3 vs reset base)
        Seq(0L, 1L, 2L, 5L, 3L, 7L).foreach { s =>
          stream.addData(eventJson("stream-c", s, s, 3000))
          q.processAllAvailable()
        }
        awaitCounter("live_chunk_gaps_total", 5L)
      } finally q.stop()
    }

    assert(Metrics.counter("live_chunk_gaps_total") === 5L) // 2 + 3, none for the late row
    // manifest keeps arrival order; MEDIA-SEQUENCE from the LAST chunk_index (7)
    val expected = ManifestFunctions.buildLiveManifest(
      Seq(0L, 1L, 2L, 5L, 3L, 7L).map(i => Segment(3.0, s"stream-c/chunks/$i.ts")),
      latestChunkIndex = 7L)
    assert(objects.getString("manifests", "stream-c/live_manifest.m3u8").get === expected)
  }

  test("corrupt rows are isolated (P6), counted via observe, never fatal") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t3-obj")
    Sinks.InMemoryMetadataSink.clear("t3-meta")
    val objects = new Sinks.InMemoryObjectStore("t3-obj")
    val meta = new Sinks.InMemoryMetadataSink("t3-meta")
    val listener = new Metrics.ProgressListener
    spark.streams.addListener(listener)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-live3").toString
    val q = Pipelines.startLive(StreamSources.frames(stream.toDF()), objects, meta,
      ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-t3")
    try {
      stream.addData(Seq(
        eventJson("stream-d", 0, 0, 3000),
        "this is not json {{{",
        eventJson("stream-d", 1, 1, 3000)))
      q.processAllAvailable()
      // listener bus is async — poll for the observed metric
      val deadline = System.currentTimeMillis() + 10000
      while (Metrics.counter("decode_metrics.corrupt_rows") < 1 &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally { q.stop(); spark.streams.removeListener(listener) }

    assert(meta.count("live_metadata") === 2L) // both valid rows survived
    assert(Metrics.counter("decode_metrics.corrupt_rows") === 1L)
  }

  test("sink replay is idempotent: delivering the same batch twice leaves identical state") {
    Sinks.InMemoryObjectStore.clear("t4-obj")
    Sinks.InMemoryMetadataSink.clear("t4-meta")
    val objects = new Sinks.InMemoryObjectStore("t4-obj")
    val meta = new Sinks.InMemoryMetadataSink("t4-meta")
    val ts = Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val rows = (0L to 2L).map { i =>
      LiveResult("stream-r", i, i, ts, 1000, "live", s"c$i", 3000, true,
        "aud", "vid", checksum_ok = true, gap_size = 0,
        chunk_path = s"live-streams/stream-r/chunks/$i.ts",
        manifest_path = "manifests/stream-r/live_manifest.m3u8",
        manifest = s"#EXTM3U\nfake-$i\n", dvr_window_start = 0)
    }
    Sinks.deliverLive(rows.iterator, objects, meta)
    val snapMeta = (0L to 2L).map(i => meta.find("live_metadata", "stream-r", i))
    val snapManifest = objects.getString("manifests", "stream-r/live_manifest.m3u8")
    val snapKeys = objects.keys("live-streams")

    Sinks.deliverLive(rows.iterator, objects, meta) // replay the whole batch
    assert((0L to 2L).map(i => meta.find("live_metadata", "stream-r", i)) === snapMeta)
    assert(objects.getString("manifests", "stream-r/live_manifest.m3u8") === snapManifest)
    assert(objects.keys("live-streams") === snapKeys)
    assert(meta.count("live_metadata") === 3L)
  }

  test("checkpoint restart: keyed state survives, sinks see no duplicates (T2/T5)") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t6-obj")
    Sinks.InMemoryMetadataSink.clear("t6-meta")
    val objects = new Sinks.InMemoryObjectStore("t6-obj")
    val meta = new Sinks.InMemoryMetadataSink("t6-meta")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-restart").toString

    withListener {
      // run 1: seqs 0..4
      val q1 = Pipelines.startLive(StreamSources.frames(stream.toDF()), objects, meta,
        ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-t6a")
      try {
        stream.addData((0L to 4L).map(i => eventJson("stream-r", i, i, 3000)))
        q1.processAllAvailable()
        awaitCounter("spark_live_chunks_processed_total", 5L)
      } finally q1.stop()
      assert(meta.count("live_metadata") === 5L)
      assert(Metrics.counter("live_chunk_gaps_total") === 0L)

      // run 2: SAME checkpoint — RocksDB state must resume at lastSeq=4, so
      // seq 7 fires a gap of exactly 2 (5,6) and no chunk is re-delivered.
      val q2 = Pipelines.startLive(StreamSources.frames(stream.toDF()), objects, meta,
        ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-t6b")
      try {
        stream.addData(Seq(eventJson("stream-r", 7, 7, 3000)))
        q2.processAllAvailable()
        awaitCounter("live_chunk_gaps_total", 2L)
      } finally q2.stop()
    }

    assert(Metrics.counter("live_chunk_gaps_total") === 2L,
      "gap vs pre-restart state proves the state store survived the restart")
    assert(meta.count("live_metadata") === 6L, "no chunk re-delivered to the sink")
    // manifest window carried across the restart: all six chunks, in order
    val expected = ManifestFunctions.buildLiveManifest(
      (Seq(0L, 1L, 2L, 3L, 4L, 7L)).map(i => Segment(3.0, s"stream-r/chunks/$i.ts")),
      latestChunkIndex = 7L)
    assert(objects.getString("manifests", "stream-r/live_manifest.m3u8").get === expected)
  }

  test("two-query topology (T7): vod + live run concurrently; observe metrics land (K5/A6)") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t7-obj")
    Sinks.InMemoryMetadataSink.clear("t7-meta")
    val objects = new Sinks.InMemoryObjectStore("t7-obj")
    val meta = new Sinks.InMemoryMetadataSink("t7-meta")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val liveStream = MemoryStream[String]
    val vodStream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-topo").toString

    val (vodQ, liveQ) = Pipelines.startTopology(spark,
      StreamSources.frames(vodStream.toDF()),
      StreamSources.frames(liveStream.toDF()),
      objects, meta, ckpt)
    try {
      liveStream.addData((0L to 4L).map(i => eventJson("topo-l", i, i, 3000)))
      vodStream.addData(
        """{"stream_id":"topo-v","chunk_index":0,"duration_ms":4000,""" +
          """"timestamp":"2026-01-01T00:00:00+00:00","title":"T"}""")
      // startTopology uses the reference triggers (1s/5s) — wait for both
      liveQ.processAllAvailable()
      vodQ.processAllAvailable()
      awaitCounter("spark_live_chunks_processed_total", 5L)
      awaitCounter("spark_vod_chunks_processed_total", 1L)
    } finally {
      liveQ.stop(); vodQ.stop()
      Pipelines.unregisterProgressListener(spark) // don't leak into later tests
    }

    assert(meta.count("live_metadata") === 5L)
    assert(meta.count("vod_metadata") === 1L)
    assert(meta.find("vod_metadata", "topo-v", 0L).get("status") === "ready")

    // The official totals arrived EXCLUSIVELY via the listener channel (the
    // executor-side sinks no longer touch the registry) — the cluster-
    // correct path produces the same numbers the reference increments.
    assert(Metrics.counter("spark_live_chunks_processed_total") === 5L)
    assert(Metrics.counter("spark_vod_chunks_processed_total") === 1L)
    assert(Metrics.counter("spark_vod_variants_generated_total") === 4L)
    // A6: every chunk landed one latency observation (banded per batch)
    val histo = Metrics.latencyHistogram("live")
    assert(histo.last._1.isPosInfinity && histo.last._2 === 5L)
    assert(Metrics.latencyHistogram("vod").last._2 === 1L)
    // K5: the generic observation capture still lands
    assert(Metrics.counter("live_metrics.chunks") === 5L)
    assert(Metrics.counter("live_metrics.gap_chunks") === 0L)
    assert(Metrics.counter("vod_metrics.chunks") === 1L)
    // gauge: distinct live streams ever seen (reference gauge semantics)
    assert(Metrics.activeLiveStreams === 1L)
    // state observability: the listener surfaced per-operator keyed-state
    // gauges from StateOperatorProgress — rows present for BOTH queries'
    // stateful operators, memory strictly positive (the boundedness signal
    // a scale operator watches)
    val stateKeys = Metrics.snapshot.keys
      .filter(_.startsWith("spark_state_rows_total{")).toSeq
    assert(stateKeys.exists(_.contains("query=live")), s"live state gauge in $stateKeys")
    assert(stateKeys.exists(_.contains("query=vod")), s"vod state gauge in $stateKeys")
    val liveRows = stateKeys.filter(_.contains("query=live")).map(Metrics.gauge).sum
    assert(liveRows >= 1L, "live keyed state holds at least the seen stream keys")
    val memKeys = Metrics.snapshot.keys
      .filter(_.startsWith("spark_state_memory_bytes{query=live")).toSeq
    assert(memKeys.nonEmpty && memKeys.map(Metrics.gauge).sum > 0L)
  }

  test("dedupedChunks drops re-delivered (stream_id, chunk_index) within watermark (T11)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val deduped = Pipelines.dedupedChunks(StreamSources.frames(stream.toDF()))
    val q = deduped.select($"stream_id", $"chunk_index").writeStream
      .format("memory").queryName("dedup_t").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(Seq(
        eventJson("s1", 0, 0, 3000),
        eventJson("s1", 0, 0, 3000), // duplicate in the same batch
        eventJson("s1", 1, 1, 3000)))
      q.processAllAvailable()
      stream.addData(Seq(eventJson("s1", 1, 1, 3000))) // duplicate across batches
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_t").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(rows.toSeq === Seq(("s1", 0L), ("s1", 1L)))
  }

  test("vod pipeline: status fold to ready, variants, append-only manifest") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t5-obj")
    Sinks.InMemoryMetadataSink.clear("t5-meta")
    val objects = new Sinks.InMemoryObjectStore("t5-obj")
    val meta = new Sinks.InMemoryMetadataSink("t5-meta")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    def vodJson(idx: Long, durMs: Long): String =
      s"""{"stream_id":"vod-1","chunk_index":$idx,"timestamp":"2026-01-01T00:00:00+00:00",""" +
        s""""size_bytes":123,"stream_type":"vod","status":"uploaded","checksum":"x",""" +
        s""""duration_ms":$durMs,"title":"Ep $idx","resolution":"1920x1080"}"""

    val ckpt = Files.createTempDirectory("ckpt-vod1").toString
    withListener {
      val q = Pipelines.startVod(StreamSources.frames(stream.toDF()), objects, meta,
        ckpt, trigger = Trigger.ProcessingTime(0), queryName = "vod-t5")
      try {
        stream.addData(vodJson(0, 4000))
        q.processAllAvailable()
        stream.addData(Seq(vodJson(1, 2500), vodJson(2, 3999)))
        q.processAllAvailable()
        awaitCounter("spark_vod_chunks_processed_total", 3L)
      } finally q.stop()
    }

    assert(meta.count("vod_metadata") === 3L)
    val doc = meta.find("vod_metadata", "vod-1", 2L).get
    assert(doc("status") === "ready")
    assert(doc("variant_paths").split(",").length === 4)
    assert(doc("raw_path") === "vod-raw/vod-1/raw/2.ts")
    // A8 audit trail: the three status-transition timestamps exist, ordered
    val Seq(p, t, c) = Seq("processing_started_at", "transcoding_started_at",
      "completed_at").map(k => java.time.Instant.parse(doc(k)))
    assert(!t.isBefore(p) && !c.isBefore(t),
      s"audit timestamps must be ordered: $p <= $t <= $c")

    // raw + 4 variants per chunk
    assert(objects.keys("vod-raw").size === 3)
    assert(objects.keys("vod-variants").size === 12)
    assert(Metrics.counter("spark_vod_variants_generated_total") === 12L)
    assert(Metrics.counter("spark_vod_chunks_processed_total") === 3L)

    // manifest: header pinned by FIRST chunk (int(4.0)+1 = 5), three EXTINF lines
    val manifest = objects.getString("manifests", "vod-1/vod_manifest.m3u8").get
    val expected =
      "#EXTM3U\n#EXT-X-VERSION:3\n#EXT-X-TARGETDURATION:5\n#EXT-X-PLAYLIST-TYPE:VOD\n" +
        "#EXTINF:4.000,\nvod-1/1080p/0.ts\n" +
        "#EXTINF:2.500,\nvod-1/1080p/1.ts\n" +
        "#EXTINF:3.999,\nvod-1/1080p/2.ts\n"
    assert(manifest === expected)
  }

  test("vod manifest state cap: multi-hundred-chunk stream keeps bounded state, full manifest") {
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t5c-obj")
    Sinks.InMemoryMetadataSink.clear("t5c-meta")
    val objects = new Sinks.InMemoryObjectStore("t5c-obj")
    val meta = new Sinks.InMemoryMetadataSink("t5c-meta")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    def vodJson(idx: Long): String =
      s"""{"stream_id":"vod-cap","chunk_index":$idx,"sequence_number":$idx,""" +
        s""""timestamp":"2026-01-01T00:00:00+00:00","size_bytes":123,""" +
        s""""stream_type":"vod","status":"uploaded","checksum":"x",""" +
        s""""duration_ms":3000,"title":"T","resolution":"1920x1080"}"""

    val ckpt = Files.createTempDirectory("ckpt-vod-cap").toString
    val cap = 8
    val total = 300
    val q = Pipelines.startVod(StreamSources.frames(stream.toDF()), objects, meta,
      ckpt, trigger = Trigger.ProcessingTime(0), queryName = "vod-cap",
      maxStateSegments = cap)
    try {
      // three micro-batches, so the cap also holds across state reloads
      (0 until total).grouped(100).foreach { chunk =>
        stream.addData(chunk.map(i => vodJson(i.toLong)))
        q.processAllAvailable()
      }
    } finally q.stop()

    // the final manifest is COMPLETE: header + all 300 lines in order
    val manifest = objects.getString("manifests", "vod-cap/vod_manifest.m3u8").get
    val expected =
      "#EXTM3U\n#EXT-X-VERSION:3\n#EXT-X-TARGETDURATION:4\n#EXT-X-PLAYLIST-TYPE:VOD\n" +
        (0 until total).map(i => s"#EXTINF:3.000,\nvod-cap/1080p/$i.ts\n").mkString
    assert(manifest === expected)

    // ...while keyed state stayed bounded: everything except the tail was
    // spilled to the object store behind the idempotency marker
    val spill = objects.getString("manifests",
      Processors.VodProcessor.spillKey("vod-cap")).get
    assert(spill.startsWith(s"#GRAFT-SPILL-COUNT:${total - cap}\n"))
    assert(spill.split("\n").count(_.startsWith("#EXTINF")) === total - cap)

    // replayed evictions are no-ops: re-appending an already-durable range
    // leaves the spill object byte-identical
    Processors.VodProcessor.appendSpill(objects, "vod-cap", total - cap - 2,
      Seq(ManifestFunctions.Segment(3.0, s"vod-cap/1080p/${total - cap - 2}.ts"),
        ManifestFunctions.Segment(3.0, s"vod-cap/1080p/${total - cap - 1}.ts")))
    assert(objects.getString("manifests",
      Processors.VodProcessor.spillKey("vod-cap")).get === spill)
  }

  test("multi-chunk VOD driven through the HTTP layer: state-cap spill, byte-exact manifest") {
    // upload + appends go over REAL HTTP; the captured VOD-topic events are
    // the pipeline input, exactly the reference's API -> Kafka -> Spark path
    Metrics.reset()
    Sinks.InMemoryObjectStore.clear("t-http-vod")
    Sinks.InMemoryMetadataSink.clear("t-http-vod")
    val objects = new Sinks.InMemoryObjectStore("t-http-vod")
    val meta = new Sinks.InMemoryMetadataSink("t-http-vod")
    val published = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())
    val api = new ControlPlane.Api(objects, meta,
      publish = (t, v) => { published.add((t, v)); () },
      now = () => java.time.Instant.parse("2026-03-01T10:00:00Z"),
      newId = () => "cafebabe0123456789abcdef")
    val server = ApiServer.start(api, port = 0)
    val total = 10
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = java.net.http.HttpClient.newHttpClient()
      def post(url: String, b: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(b)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val up = post(s"$base/vod/upload",
        """{"title":"Ep","duration_seconds":3.0,"file_size_bytes":100,"stream_id":"vod-http"}""")
      assert(up.statusCode() === 200)
      (1 until total).foreach { i =>
        val r = post(s"$base/vod/vod-http/chunks",
          s"""{"duration_seconds":3.0,"file_size_bytes":${100 + i}}""")
        assert(r.statusCode() === 200)
      }
    } finally server.stop(0)
    val events = {
      val it = published.iterator()
      val buf = Vector.newBuilder[String]
      while (it.hasNext) { val (t, v) = it.next(); if (t == "vod-chunks") buf += v }
      buf.result()
    }
    assert(events.size === total)

    // the captured events through the VOD pipeline, cap tight enough to
    // force the manifest spill path (state holds 3 of 10 segments)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-http-vod").toString
    val q = Pipelines.startVod(StreamSources.frames(stream.toDF()), objects, meta,
      ckpt, trigger = Trigger.ProcessingTime(0), queryName = "vod-http",
      maxStateSegments = 3)
    try {
      events.grouped(4).foreach { chunk => // several micro-batches
        stream.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()

    // byte-exact: header (TARGETDURATION = 3s + 1) + all 10 lines in order
    val manifest = objects.getString("manifests", "vod-http/vod_manifest.m3u8").get
    val expected =
      "#EXTM3U\n#EXT-X-VERSION:3\n#EXT-X-TARGETDURATION:4\n#EXT-X-PLAYLIST-TYPE:VOD\n" +
        (0 until total).map(i => s"#EXTINF:3.000,\nvod-http/1080p/$i.ts\n").mkString
    assert(manifest === expected)
    // the cap really spilled: head object carries the evicted lines
    val spill = objects.getString("manifests",
      Processors.VodProcessor.spillKey("vod-http")).get
    assert(spill.startsWith(s"#GRAFT-SPILL-COUNT:${total - 3}\n"))
    // metadata saw the full lifecycle: ready status on the last chunk
    assert(meta.find("vod_metadata", "vod-http", (total - 1).toLong)
      .get("status") === "ready")
  }

  test("spillHeadLines truncates to the state's count when the store ran ahead (replay safety)") {
    val objects = new Sinks.InMemoryObjectStore("spill-trunc")
    val segs = (0 until 10).map(i => Segment(3.0, s"d/$i.ts"))
    Processors.VodProcessor.appendSpill(objects, "s", 0L, segs) // store: 10 segments
    // state rolled back to 7 spilled -> manifest assembly must use 7 only
    val head7 = Processors.VodProcessor.spillHeadLines(objects, "s", 7L)
    assert(head7.split("\n").count(!_.startsWith("#")) === 7)
    assert(head7.endsWith("d/6.ts\n"))
    assert(!head7.contains("d/7.ts"))
    // a count exactly covering the store's content returns everything
    assert(Processors.VodProcessor.spillHeadLines(objects, "s", 10L)
      === Processors.VodProcessor.spillHead(objects, "s"))
    // a head SHORTER than the state's count is a shrunk/lost spill object
    // (the store write always precedes the state commit) — loud failure,
    // never silently dropped manifest lines
    val shrunk = intercept[IllegalStateException] {
      Processors.VodProcessor.spillHeadLines(objects, "s", 99L)
    }
    assert(shrunk.getMessage.contains("shrunk or lost"))
    intercept[IllegalStateException] {
      Processors.VodProcessor.spillHeadLines(objects, "missing", 3L)
    }
  }

  test("spill marker reconciliation: random eviction splits with replay overlaps converge") {
    // Property (seeded, deterministic): however the eviction sequence is
    // split into calls, and however calls are REPLAYED with stale `already`
    // counts (state rolled back to any earlier batch boundary), the spill
    // object ends as marker=total + every line exactly once, in order.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val objects = new Sinks.InMemoryObjectStore(s"spill-prop-$trial")
      val total = 1 + rnd.nextInt(60)
      val segs = (0 until total).map(i => Segment(3.0, s"d/$i.ts"))
      // split [0, total) into consecutive eviction batches
      val cuts = (Seq(0, total) ++ Seq.fill(rnd.nextInt(5))(rnd.nextInt(total + 1)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => (a.toLong, segs.slice(a, b)) }
      batches.foreach { case (already, ev) =>
        Processors.VodProcessor.appendSpill(objects, "s", already, ev)
        // replay: re-run a random earlier batch with its ORIGINAL `already`
        val (ra, rev) = batches(rnd.nextInt(batches.indexOf((already, ev)) + 1))
        Processors.VodProcessor.appendSpill(objects, "s", ra, rev)
      }
      val spill = objects.getString("manifests",
        Processors.VodProcessor.spillKey("s")).get
      assert(spill.startsWith(s"#GRAFT-SPILL-COUNT:$total\n"), s"trial $trial marker")
      val uris = spill.split("\n").filterNot(_.startsWith("#")).toSeq
      assert(uris === (0 until total).map(i => s"d/$i.ts"), s"trial $trial lines")
    }
  }

  private def jsonAt(streamId: String, idx: Long, iso: String): String =
    s"""{"stream_id":"$streamId","chunk_index":$idx,"sequence_number":$idx,""" +
      s""""timestamp":"$iso","size_bytes":${500000 + idx},""" +
      s""""stream_type":"live","status":"received","checksum":"c$idx",""" +
      s""""duration_ms":2000,"keyframe_aligned":true,""" +
      s""""audio_track_id":"aud","video_track_id":"vid"}"""

  test("chunkRates (A7/T3): tumbling event-time windows drop data later than the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-rates").toString

    val q = Pipelines.chunkRates(StreamSources.frames(stream.toDF()),
        windowLength = "1 minute", watermark = "30 seconds")
      .writeStream.queryName("rates_t6").outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // three chunks inside the [00:00, 00:01) window
      stream.addData(Seq(
        jsonAt("stream-r", 0, "2026-01-01T00:00:05+00:00"),
        jsonAt("stream-r", 1, "2026-01-01T00:00:15+00:00"),
        jsonAt("stream-r", 2, "2026-01-01T00:00:45+00:00")))
      q.processAllAvailable()
      // advances the watermark to 00:01:30 -> the first window closes+emits
      stream.addData(jsonAt("stream-r", 3, "2026-01-01T00:02:00+00:00"))
      q.processAllAvailable()
      // LATE: event time 00:00:20 is behind the 00:01:30 watermark -> dropped,
      // the already-emitted first window is not revised (append correctness)
      stream.addData(jsonAt("stream-r", 4, "2026-01-01T00:00:20+00:00"))
      q.processAllAvailable()
      // flush: closes the [00:02, 00:03) window
      stream.addData(jsonAt("stream-r", 5, "2026-01-01T00:04:00+00:00"))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("rates_t6")
      .select($"window_start".cast("string"), $"chunks").as[(String, Long)]
      .collect().toMap
    assert(rows("2026-01-01 00:00:00") === 3L,
      "late event must not be added to its closed window")
    assert(rows("2026-01-01 00:02:00") === 1L)
    assert(!rows.valuesIterator.contains(4L), "no window may contain the late row")
  }

  test("correlateWithControl (J2): stream-stream join matches chunks to control events by key and time") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val chunks = MemoryStream[String]
    val control = MemoryStream[(String, Timestamp, String)]
    val ckpt = Files.createTempDirectory("ckpt-corr").toString

    val q = Pipelines.correlateWithControl(
        StreamSources.frames(chunks.toDF()),
        control.toDF().toDF("stream_id", "control_ts", "action"),
        skew = "1 minute", watermark = "30 seconds")
      .writeStream.queryName("corr_t7").outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      chunks.addData(Seq(
        jsonAt("stream-a", 0, "2026-01-01T00:00:10+00:00"),
        jsonAt("stream-a", 1, "2026-01-01T00:05:00+00:00"), // outside ±1m of any control
        jsonAt("stream-b", 0, "2026-01-01T00:00:20+00:00"))) // key matches no control
      control.addData(("stream-a", Timestamp.valueOf("2026-01-01 00:00:40"), "quality_change"))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("corr_t7")
      .select($"stream_id", $"chunk_index", $"action").as[(String, Long, String)]
      .collect().toSet
    // only stream-a chunk 0 is within ±1 minute of the control event
    assert(rows === Set(("stream-a", 0L, "quality_change")))
  }

  test("windowedTelemetry: cross-trigger window results equal the batch " +
      "aggregation over the same rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def js(sid: String, idx: Long, ts: String, dur: Long): String =
      s"""{"stream_id":"$sid","chunk_index":$idx,"sequence_number":$idx,""" +
        s""""timestamp":"$ts","size_bytes":${100000 + idx},""" +
        s""""stream_type":"live","status":"received","checksum":"c",""" +
        s""""duration_ms":$dur,"keyframe_aligned":true,""" +
        s""""audio_track_id":"a","video_track_id":"v"}"""
    // window [00:00, 00:01) filled across TWO triggers; later events
    // advance the watermark past the window end so append mode emits it
    val w1a = Seq(
      js("s-a", 0, "2026-01-01T00:00:05+00:00", 1000),
      js("s-b", 0, "2026-01-01T00:00:15+00:00", 3000),
      js("s-a", 1, "2026-01-01T00:00:25+00:00", 2000))
    val w1b = Seq(
      js("s-c", 0, "2026-01-01T00:00:35+00:00", 5000),
      js("s-a", 2, "2026-01-01T00:00:45+00:00", 4000),
      js("s-b", 1, "2026-01-01T00:00:55+00:00", 1500))
    val later = Seq(js("s-a", 3, "2026-01-01T00:02:10+00:00", 2500))
    val flush = Seq(js("s-a", 4, "2026-01-01T00:05:10+00:00", 2500))

    val stream = MemoryStream[String]
    val out = Pipelines.windowedTelemetry(stream.toDF().toDF("value"),
      windowLength = "1 minute", watermark = "30 seconds",
      quantileCapacity = 64, hllB = 12, topCapacity = 8, topK = 2)
    val q = out.writeStream.format("memory").queryName("wt_t8")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      stream.addData(w1a); q.processAllAvailable()
      stream.addData(w1b); q.processAllAvailable() // same window, 2nd trigger
      stream.addData(later); q.processAllAvailable()
      stream.addData(flush); q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Timestamp]("window_start"), r.getAs[Long]("chunks"),
        r.getAs[Long]("bytes"), r.getAs[Double]("p50"), r.getAs[Double]("p95"),
        r.getAs[Double]("p99"), r.getAs[Double]("distinct_streams_est"),
        r.getSeq[String](r.fieldIndex("top_streams")).toList)
    val got = spark.table("wt_t8").collect().map(key).toSet
    assert(got.nonEmpty, "watermark advance must have emitted closed windows")
    // batch form of the IDENTICAL operator over the union of all rows,
    // restricted to the windows the stream has emitted so far — the
    // mergeable-aggregate contract: cross-trigger state merge == one-shot
    val all = (w1a ++ w1b ++ later ++ flush).toDF("value")
    val batch = Pipelines.windowedTelemetry(all,
        windowLength = "1 minute", watermark = "30 seconds",
        quantileCapacity = 64, hllB = 12, topCapacity = 8, topK = 2)
      .collect().map(key)
      .filter(b => got.exists(_._1 == b._1)).toSet
    assert(got === batch)
    // the cross-trigger window is among the emitted ones, with the exact
    // full-window contents: 6 chunks, 3 distinct streams, top = a then b
    val w1 = got.find(_._2 == 6L).get
    assert(w1._8 === List("s-a", "s-b"))
    // exact rank selection over the 6 durations (ceil(p*n) convention):
    // p50 -> 3rd of [1000,1500,2000,3000,4000,5000] = 2000, p99 -> 6th
    assert(w1._4 === 2000.0 && w1._6 === 5000.0)
  }

  test("StreamBench panels: values re-derive exactly from the recorded series " +
      "and agree with the run's own measured figures") {
    // a short real run: the panels the bench artifact publishes must be a
    // pure function of (series, registry, window, instant) — re-evaluating
    // the catalog at the captured (panelWindowMs, panelNowMs) has to
    // reproduce the Result's values bit-for-bit, and the run-average rate
    // panel has to agree with the run's own chunks/s within the
    // window-alignment slack.
    val r = StreamBench.run(spark, seconds = 8, rps = 4, durable = false,
      warmupSec = 2)
    assert(r.chunks > 0 && r.panels.nonEmpty)
    val re = Dashboard.panelCatalog(r.panelWindowMs, r.panelNowMs)
      .flatMap(p => p.value.map(f => p.panel -> f())).toMap
    r.panels.foreach { case (name, v) =>
      val rv = re(name)
      assert((v.isNaN && rv.isNaN) || v === rv,
        s"panel '$name': artifact $v vs re-derived $rv")
    }
    val byName = r.panels.toMap
    assert(byName("Live: Chunk Gaps Detected (Total)") === r.gaps.toDouble)
    assert(byName("Active Live Streams") === r.activeStreams.toDouble)
    // run-average processing rate: series window (first..last sample) vs
    // wall clock differ by startup/drain slack — generous band, but must
    // be the right magnitude and nonzero
    val rate = byName("Live: Spark Processing Rate")
    assert(rate > 0.0 && math.abs(rate - r.chunksPerSec) < r.chunksPerSec,
      s"panel rate $rate vs measured ${r.chunksPerSec}")
    // exact per-chunk latency (r14 verdict #1): every steady chunk's raw
    // latency arrives on the observe channel, read at delivery, after the
    // event was generated; the panel's source histogram observed every
    // processed chunk exactly once
    val ex = r.exactLatency
    assert(ex.samples > 0, "steady window must carry exact latency samples")
    assert(0 < ex.dlvP50 && ex.dlvP50 <= ex.dlvP95 && ex.dlvP95 <= ex.dlvP99)
    assert(Metrics.latencyHistogram("live").last._2 === r.chunks)
    Dashboard.series.clear()
    Metrics.reset()
  }

  test("StreamBench VOD leg: panels publish measured non-null VOD values " +
      "that re-derive from the recorded series (r14 verdict #4)") {
    val r = StreamBench.run(spark, seconds = 14, rps = 4, durable = false,
      warmupSec = 2, pipeline = "vod")
    assert(r.pipeline === "vod" && r.chunks > 0)
    val byName = r.panels.toMap
    // the reference dashboard's VOD panels must carry measured values, not
    // the structural nulls every r14 artifact published
    assert(!byName("VOD Latency p95").isNaN && byName("VOD Latency p95") > 0.0)
    assert(byName("VOD: Processing Rate & Variants Generated") > 0.0)
    // 4 quality variants per processed chunk (reference transcode fan-out)
    val re = Dashboard.panelCatalog(r.panelWindowMs, r.panelNowMs)
      .flatMap(p => p.value.map(f => p.panel -> f())).toMap
    r.panels.foreach { case (name, v) =>
      val rv = re(name)
      assert((v.isNaN && rv.isNaN) || v === rv,
        s"panel '$name': artifact $v vs re-derived $rv")
    }
    assert(r.exactLatency.samples > 0)
    Dashboard.series.clear()
    Metrics.reset()
  }

  test("LatencyAgg (fixed clock): bands at the bucket edges, largest-first " +
      "under the cap, order-independent, merge equals a single fold") {
    val now = 1000000L
    val agg = new Pipelines.LatencyAgg(4, () => now)
    def buf(lats: Seq[Long]) =
      lats.foldLeft(agg.zero)((b, l) => agg.reduce(b, java.lang.Long.valueOf(now - l)))
    def fold(lats: Seq[Long]) = agg.finish(buf(lats))
    // le semantics: exactly at an edge stays in the bucket, 1 ms above moves
    // up; a clock behind the event time lands in the first band
    val edges = fold(Seq(100L, 101L, 250L, 16000L, 16001L, -5L))
    assert(edges.bands === Seq(2L, 2L, 0L, 0L, 0L, 0L, 0L, 1L, 1L))
    assert(edges.sum_ms === 32447L)
    assert(edges.ms_sorted === Seq(16001L, 16000L, 250L, 101L))
    // null event times are skipped
    assert(agg.finish(agg.reduce(agg.zero, null)) === fold(Nil))
    // the cap binds inside reduce and merge: the 4 largest survive, largest first
    val xs = scala.util.Random.shuffle((1L to 50L).toList)
    val all = fold(xs)
    assert(all.ms_sorted === Seq(50L, 49L, 48L, 47L))
    assert(all.bands.sum === 50L && all.sum_ms === 1275L)
    assert(fold(scala.util.Random.shuffle(xs)) === all)
    val (a, b) = xs.splitAt(17)
    assert(agg.finish(agg.merge(buf(a), buf(b))) === all)
    // under the cap: everything survives, descending
    assert(fold(Seq(2L, 4L, 1L)).ms_sorted === Seq(4L, 2L, 1L))
  }

  test("live query: steady micro-batches over Kafka-shaped frames compile " +
      "no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Sinks.InMemoryObjectStore.clear("cg-obj")
    Sinks.InMemoryMetadataSink.clear("cg-meta")
    // frames carry their own kafka_timestamp, as the Kafka source's do
    val stream = MemoryStream[(String, Timestamp)]
    val ckpt = Files.createTempDirectory("ckpt-live-codegen").toString
    val meta = new Sinks.InMemoryMetadataSink("cg-meta")
    val q = Pipelines.startLive(
      StreamSources.frames(stream.toDF().toDF("value", "kafka_timestamp")),
      new Sinks.InMemoryObjectStore("cg-obj"), meta,
      ckpt, trigger = Trigger.ProcessingTime(0), queryName = "live-codegen")
    def batch(i: Long): Unit = {
      val ts = new Timestamp(System.currentTimeMillis())
      stream.addData(Seq("s-a", "s-b", "s-c").map(sid =>
        (eventJson(sid, i, i, dur(i)), ts)) :+ (("{broken", ts)))
      q.processAllAvailable()
    }
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Metrics.reset()
    withListener {
      try {
        // warm-up: the query compiles its code once, over its first two
        // batches (the second still compiles 2 classes the first did not)
        (0L to 1L).foreach(batch)
        val before = compiled
        (2L to 4L).foreach(batch)
        assert(compiled === before, "steady batches recompiled generated code")
        // the listener publishes the JVM's count on every progress event
        awaitCounter("spark_codegen_compilations_total", before)
        assert(Metrics.counter("spark_codegen_compilations_total") === before)
        assert(Metrics.exposition.contains(s"\nspark_codegen_compilations_total $before\n"))
      } finally q.stop()
    }
    assert(meta.count("live_metadata") === 15L) // 3 streams x 5 batches
    Metrics.reset()
  }
}
