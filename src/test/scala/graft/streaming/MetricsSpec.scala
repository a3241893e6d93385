package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Prometheus text-exposition surface (format 0.0.4) name-for-name
  * against the reference's scrape targets (spark_streaming.py:74-104,
  * monitoring/prometheus.yml) — counters, labelled counters, the gauge, and
  * the cumulative latency histogram with the reference bucket edges.
  *
  * NOT a SparkSpec: the registry is plain JVM state; keeping this suite
  * Spark-free avoids ordering coupling with the streaming suites that
  * share the process-wide registry (each test here resets it).
  */
class MetricsSpec extends AnyFunSuite {

  test("exposition renders the full reference surface for a known sequence") {
    Metrics.reset()
    // the sequence: 3 live chunks (one 2-missing gap, one checksum failure),
    // 2 vod chunks (8 variants), latencies 0.05s/0.3s/20s live + 1.5s vod
    Metrics.inc("spark_live_chunks_processed_total", 3)
    Metrics.inc("live_chunk_gaps_total", 2)
    Metrics.inc("chunk_checksum_failures_total{stream_type=live}", 1)
    Metrics.inc("spark_vod_chunks_processed_total", 2)
    Metrics.inc("spark_vod_variants_generated_total", 8)
    Metrics.observeLatency("live", 50.0)
    Metrics.observeLatency("live", 300.0)
    Metrics.observeLatency("live", 20000.0)
    Metrics.observeLatency("vod", 1500.0)
    Metrics.setGauge("spark_active_live_streams", 2)

    val expected =
      """# HELP spark_vod_chunks_processed_total Total VOD chunks processed by Spark
        |# TYPE spark_vod_chunks_processed_total counter
        |spark_vod_chunks_processed_total 2
        |# HELP spark_live_chunks_processed_total Total live chunks processed by Spark
        |# TYPE spark_live_chunks_processed_total counter
        |spark_live_chunks_processed_total 3
        |# HELP live_chunk_gaps_total Live chunks with detected sequence number gaps
        |# TYPE live_chunk_gaps_total counter
        |live_chunk_gaps_total 2
        |# HELP chunk_checksum_failures_total Chunk checksum validation failures
        |# TYPE chunk_checksum_failures_total counter
        |chunk_checksum_failures_total{stream_type="live"} 1
        |# HELP chunk_processing_latency_seconds Time between event timestamp and processing completion
        |# TYPE chunk_processing_latency_seconds histogram
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="0.1"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="0.25"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="0.5"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="1.0"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="2.0"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="4.0"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="8.0"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="16.0"} 2
        |chunk_processing_latency_seconds_bucket{stream_type="live",le="+Inf"} 3
        |chunk_processing_latency_seconds_sum{stream_type="live"} 20.35
        |chunk_processing_latency_seconds_count{stream_type="live"} 3
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="0.1"} 0
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="0.25"} 0
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="0.5"} 0
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="1.0"} 0
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="2.0"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="4.0"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="8.0"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="16.0"} 1
        |chunk_processing_latency_seconds_bucket{stream_type="vod",le="+Inf"} 1
        |chunk_processing_latency_seconds_sum{stream_type="vod"} 1.5
        |chunk_processing_latency_seconds_count{stream_type="vod"} 1
        |# HELP spark_vod_variants_generated_total Total quality variants generated for VOD chunks
        |# TYPE spark_vod_variants_generated_total counter
        |spark_vod_variants_generated_total 8
        |# HELP spark_active_live_streams Number of live streams currently active
        |# TYPE spark_active_live_streams gauge
        |spark_active_live_streams 2
        |# HELP spark_state_rows_total Streaming state rows per stateful operator (last progress)
        |# TYPE spark_state_rows_total gauge
        |spark_state_rows_total 0
        |# HELP spark_state_memory_bytes Streaming state memory bytes per stateful operator (last progress)
        |# TYPE spark_state_memory_bytes gauge
        |spark_state_memory_bytes 0
        |# HELP spark_state_commit_sum_ms State store commit ms per stateful operator, summed across its store partitions for the last batch (work, not wall latency)
        |# TYPE spark_state_commit_sum_ms gauge
        |spark_state_commit_sum_ms 0
        |# HELP spark_codegen_compilations_total Generated classes compiled by Spark codegen in this JVM
        |# TYPE spark_codegen_compilations_total counter
        |spark_codegen_compilations_total 0
        |""".stripMargin
    assert(Metrics.exposition === expected)
    Metrics.reset()
  }

  test("state-operator gauges render per (query, operator) with labels") {
    Metrics.reset()
    // what ProgressListener writes from StateOperatorProgress
    Metrics.setGauge(
      "spark_state_rows_total{query=live,operator=transformWithStateExec}", 16)
    Metrics.setGauge(
      "spark_state_rows_total{query=vod,operator=transformWithStateExec}", 7)
    Metrics.setGauge(
      "spark_state_memory_bytes{query=live,operator=transformWithStateExec}", 204800)
    Metrics.setGauge(
      "spark_state_commit_sum_ms{query=live,operator=transformWithStateExec}", 12)
    val exp = Metrics.exposition
    assert(exp.contains(
      """spark_state_rows_total{query="live",operator="transformWithStateExec"} 16"""))
    assert(exp.contains(
      """spark_state_rows_total{query="vod",operator="transformWithStateExec"} 7"""))
    assert(exp.contains(
      """spark_state_memory_bytes{query="live",operator="transformWithStateExec"} 204800"""))
    assert(exp.contains(
      """spark_state_commit_sum_ms{query="live",operator="transformWithStateExec"} 12"""))
    // labelled entries replace the unlabelled zero sample for that family
    assert(!exp.contains("\nspark_state_rows_total 0\n"))
    Metrics.reset()
  }

  test("/metrics HTTP endpoint serves the exposition with the 0.0.4 content type") {
    Metrics.reset()
    Metrics.inc("spark_live_chunks_processed_total", 7)
    val server = Metrics.startHttpServer(port = 0) // ephemeral port
    try {
      val port = server.getAddress.getPort
      val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 200)
      assert(conn.getContentType === "text/plain; version=0.0.4; charset=utf-8")
      val body = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(body === Metrics.exposition)
      assert(body.contains("spark_live_chunks_processed_total 7"))
    } finally { server.stop(0); Metrics.reset() }
  }

  test("api exposition: multi-label rendering, separate from the spark-job surface") {
    Metrics.reset()
    Metrics.inc("api_requests_total{endpoint=/vod/upload,method=POST,status=200}", 3)
    Metrics.inc("api_requests_total{endpoint=/streams/live,method=GET,status=200}", 2)
    Metrics.inc("api_kafka_events_published_total{topic=vod-chunks}", 3)
    val expected =
      """# HELP api_requests_total Total API requests
        |# TYPE api_requests_total counter
        |api_requests_total{endpoint="/streams/live",method="GET",status="200"} 2
        |api_requests_total{endpoint="/vod/upload",method="POST",status="200"} 3
        |# api_request_duration_seconds times in-process library calls; magnitudes are not comparable to HTTP service latency
        |# HELP api_request_duration_seconds API request duration
        |# TYPE api_request_duration_seconds histogram
        |# HELP api_kafka_events_published_total Kafka events published from API
        |# TYPE api_kafka_events_published_total counter
        |api_kafka_events_published_total{topic="vod-chunks"} 3
        |""".stripMargin
    assert(Metrics.apiExposition === expected)
    // and the api families do NOT leak into the spark-job exposition
    assert(!Metrics.exposition.contains("api_requests_total"))
    Metrics.reset()
  }

  test("api_request_duration_seconds renders per-endpoint with prometheus_client default buckets") {
    Metrics.reset()
    // 3ms and 70ms on upload, 600ms on manifest read
    Metrics.observeApiDuration("/vod/upload", 0.003)
    Metrics.observeApiDuration("/vod/upload", 0.07)
    Metrics.observeApiDuration("/vod/manifest", 0.6)
    val expo = Metrics.apiExposition
    val expectedUpload =
      """api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.005"} 1
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.01"} 1
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.025"} 1
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.05"} 1
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.1"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.25"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="0.5"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="1.0"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="2.5"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="5.0"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="10.0"} 2
        |api_request_duration_seconds_bucket{endpoint="/vod/upload",le="+Inf"} 2
        |""".stripMargin
    assert(expo.contains(expectedUpload))
    assert(expo.contains("""api_request_duration_seconds_count{endpoint="/vod/upload"} 2"""))
    assert(expo.contains("""api_request_duration_seconds_bucket{endpoint="/vod/manifest",le="0.5"} 0"""))
    assert(expo.contains("""api_request_duration_seconds_bucket{endpoint="/vod/manifest",le="1.0"} 1"""))
    assert(expo.contains("""api_request_duration_seconds_count{endpoint="/vod/manifest"} 1"""))
    // sums are seconds (nanosecond-accumulated)
    val sum = Metrics.apiDurationSumSeconds("/vod/upload")
    assert(math.abs(sum - 0.073) < 1e-6)
    Metrics.reset()
  }

  test("latency banding matches the cumulative-histogram contract at bucket edges") {
    Metrics.reset()
    // exactly-at-edge goes into the bucket (le semantics), just-above into the next
    Metrics.observeLatency("t", 100.0)   // = 0.1s  -> le=0.1
    Metrics.observeLatency("t", 100.001) // > 0.1s  -> le=0.25
    Metrics.observeLatency("t", 16000.0) // = 16s   -> le=16
    Metrics.observeLatency("t", 16000.1) // > 16s   -> +Inf only
    val h = Metrics.latencyHistogram("t").toMap
    assert(h(0.1) === 1L)
    assert(h(0.25) === 2L)
    assert(h(16.0) === 3L)
    assert(h(Double.PositiveInfinity) === 4L)
    Metrics.reset()
  }
}
