package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** The reference's 7-metric observability surface
  * (spark_job/spark_streaming.py:74-104; monitoring/prometheus.yml:36-77),
  * name-for-name:
  *
  *   spark_vod_chunks_processed_total, spark_live_chunks_processed_total,
  *   live_chunk_gaps_total (counts MISSING chunks, not gap events),
  *   chunk_checksum_failures_total{stream_type},
  *   chunk_processing_latency_seconds (histogram, reference buckets),
  *   spark_vod_variants_generated_total, spark_active_live_streams (gauge).
  *
  * CLUSTER-CORRECT CHANNEL: every official counter is fed exclusively by
  * [[ProgressListener]] from `observe()`d per-batch aggregates — computed on
  * executors, delivered to the DRIVER via query progress, accumulated here
  * in the driver JVM. This registry is therefore correct on a real
  * multi-executor cluster, not just local[k] (executor-side increments into
  * a process-local map — the previous design — fragment per JVM). Replayed
  * batches re-increment, matching the reference's increment-during-
  * processing semantics (spark_streaming.py:339,488 — same property).
  *
  * The gauge follows the reference's `active_live_streams.set(
  * len(_live_last_seq))` (spark_streaming.py:489): the count of distinct
  * stream ids ever seen == keys in the LiveProcessor's state store. The
  * processor flags each key's first-ever row (`new_stream`), the query
  * observes `count_if(new_stream)`, and the listener accumulates the sum —
  * one long per batch regardless of stream cardinality (the earlier
  * `collect_set(stream_id)` feed shipped the batch's whole distinct-id set
  * to the driver every trigger, O(distinct keys) at scale).
  *
  * Latency histogram: the reference observes per chunk during foreachBatch
  * delivery (spark_streaming.py:460-461). Here each chunk is banded into
  * the reference buckets on the executor by [[Pipelines.LatencyAgg]], which
  * reads the clock per row as the row passes into the sinks — (processing
  * time - event timestamp), one observation per chunk — and the listener
  * adds the batch's band counts and millisecond sum from the `lat` field.
  *
  * `spark_codegen_compilations_total` is the JVM-wide count of generated
  * classes Spark has compiled (CodegenMetrics), published at every progress
  * event. A steady query compiles nothing, so a count that climbs with
  * every batch on a scrape means a plan is recompiling per micro-batch.
  */
object Metrics {

  val LatencyBuckets: Seq[Double] = Seq(0.1, 0.25, 0.5, 1.0, 2.0, 4.0, 8.0, 16.0)

  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val gauges = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val streamsSeen = new LongAdder()
  // Replay guard for the streams-ever-seen accumulation: highest batchId
  // whose new_streams count has been added, per query id. Query `id` (not
  // `runId`) persists across checkpoint restarts, and batch ids are
  // monotone per query, so "batchId <= watermark" identifies a re-executed
  // batch: after a restart the last uncommitted batch replays with the SAME
  // batchId, its state rolls back, the same new_stream flags recompute, and
  // without this guard the listener would add them twice (counters may
  // legitimately re-increment on replay — the reference does the same — but
  // a streams-EVER-seen gauge must not). One long per live query.
  private val newStreamsSeenBatch = new ConcurrentHashMap[java.util.UUID, Long]()
  // histogram: per stream_type -> per-band (non-cumulative) counts; band i
  // holds counts in (bucket(i-1), bucket(i)], band n holds > bucket(n-1).
  private val histoCounts = new ConcurrentHashMap[String, Array[LongAdder]]()
  private val histoSumMs = new ConcurrentHashMap[String, LongAdder]()
  // the compilation count last added to spark_codegen_compilations_total
  private val codegenSeen = new java.util.concurrent.atomic.AtomicLong()

  private def adder(name: String): LongAdder =
    counters.computeIfAbsent(name, _ => new LongAdder)

  def inc(name: String, n: Long = 1L): Unit = adder(name).add(n)
  def counter(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)
  def setGauge(name: String, v: Long): Unit =
    gauges.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong).set(v)
  def gauge(name: String): Long = Option(gauges.get(name)).map(_.get).getOrElse(0L)
  def activeLiveStreams: Long = gauge("spark_active_live_streams")

  private def bands(streamType: String): Array[LongAdder] =
    histoCounts.computeIfAbsent(streamType,
      _ => Array.fill(LatencyBuckets.size + 1)(new LongAdder))

  private val bucketBounds: Array[Double] = LatencyBuckets.toArray

  /** Band of one latency: the first bucket whose edge is >= the latency in
    * seconds (le semantics), or the overflow band past the last edge. */
  def latencyBand(latencyMs: Double): Int = {
    val sec = latencyMs / 1000.0
    var i = 0
    while (i < bucketBounds.length && sec > bucketBounds(i)) i += 1
    i
  }

  /** Add `n` observations to histogram band `i` of `streamType` (band
    * indexing as in the class doc). Called by the listener with per-batch
    * band counts. */
  def observeLatencyBand(streamType: String, band: Int, n: Long): Unit =
    if (band >= 0 && band <= LatencyBuckets.size) bands(streamType)(band).add(n)

  def addLatencySumMs(streamType: String, ms: Long): Unit =
    histoSumMs.computeIfAbsent(streamType, _ => new LongAdder).add(ms)

  /** Single-observation form (used by unit tests / ad-hoc local callers). */
  def observeLatency(streamType: String, latencyMs: Double): Unit = {
    observeLatencyBand(streamType, latencyBand(latencyMs), 1L)
    addLatencySumMs(streamType, latencyMs.toLong)
  }

  /** Add one batch's `lat` observation ([[Pipelines.LatencyObs]] as a Row). */
  private def addLatencyObservation(streamType: String, lat: org.apache.spark.sql.Row): Unit =
    if (lat != null) {
      lat.getSeq[Long](lat.fieldIndex("bands")).zipWithIndex.foreach { case (n, i) =>
        observeLatencyBand(streamType, i, n)
      }
      addLatencySumMs(streamType, lat.getLong(lat.fieldIndex("sum_ms")))
    }

  /** Bring spark_codegen_compilations_total up to the JVM's compilation
    * count. Monotone: concurrent listeners add only what is not yet added. */
  private def publishCodegenCompilations(): Unit = {
    val now = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val prev = codegenSeen.getAndAccumulate(now, (a, b) => math.max(a, b))
    if (now > prev) inc("spark_codegen_compilations_total", now - prev)
  }

  /** Cumulative histogram (le=bucket -> count), Prometheus-style. */
  def latencyHistogram(streamType: String): Seq[(Double, Long)] = {
    val raw = bands(streamType).map(_.sum)
    LatencyBuckets.zipWithIndex.map { case (b, i) => b -> raw.take(i + 1).sum } :+
      (Double.PositiveInfinity -> raw.sum)
  }

  def latencySumMs(streamType: String): Long =
    Option(histoSumMs.get(streamType)).map(_.sum).getOrElse(0L)

  // ---------------------------------------------- API duration histogram

  /** prometheus_client's default buckets — the reference declares
    * api_request_duration_seconds with no explicit buckets
    * (api/main.py:71-75), so these are what its exposition carries. */
  val ApiDurationBuckets: Seq[Double] =
    Seq(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

  // per endpoint -> non-cumulative band counts (band i as in the latency
  // histogram) and a nanosecond sum for _sum.
  private val apiDurBands = new ConcurrentHashMap[String, Array[LongAdder]]()
  private val apiDurSumNs = new ConcurrentHashMap[String, LongAdder]()

  /** One observation of an API call's duration, labeled by endpoint —
    * the reference's `api_latency.labels(endpoint=...).time()`
    * (api/main.py:221,317,373,428,472). */
  def observeApiDuration(endpoint: String, seconds: Double): Unit = {
    var i = 0
    while (i < ApiDurationBuckets.size && seconds > ApiDurationBuckets(i)) i += 1
    apiDurBands.computeIfAbsent(endpoint,
      _ => Array.fill(ApiDurationBuckets.size + 1)(new LongAdder))(i).add(1L)
    apiDurSumNs.computeIfAbsent(endpoint, _ => new LongAdder)
      .add((seconds * 1e9).toLong)
  }

  /** Cumulative (le -> count) API-duration histogram for one endpoint. */
  def apiDurationHistogram(endpoint: String): Seq[(Double, Long)] = {
    val raw = Option(apiDurBands.get(endpoint))
      .map(_.map(_.sum))
      .getOrElse(Array.fill(ApiDurationBuckets.size + 1)(0L))
    ApiDurationBuckets.zipWithIndex.map { case (b, i) => b -> raw.take(i + 1).sum } :+
      (Double.PositiveInfinity -> raw.sum)
  }

  def apiDurationSumSeconds(endpoint: String): Double =
    Option(apiDurSumNs.get(endpoint)).map(_.sum / 1e9).getOrElse(0.0)

  def reset(): Unit = {
    counters.clear(); gauges.clear(); streamsSeen.reset()
    newStreamsSeenBatch.clear(); codegenSeen.set(0L)
    histoCounts.clear(); histoSumMs.clear()
    apiDurBands.clear(); apiDurSumNs.clear()
  }

  def snapshot: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap ++
      gauges.asScala.map { case (k, v) => k -> v.get }.toMap

  // -------------------------------------------------------------- listener

  /** Observation-field -> official-metric translation plus generic capture:
    * an observed column `m` on observation `o` lands under counter `o.m`;
    * the known `live_metrics` / `vod_metrics` fields additionally feed the
    * reference-named registry entries above (the cluster-correct channel —
    * this listener runs in the driver). */
  final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      om.keySet().asScala.foreach { obsName =>
        val row = om.get(obsName)
        row.schema.fieldNames.foreach { f =>
          row.getAs[Any](f) match {
            case n: java.lang.Number => inc(s"$obsName.$f", n.longValue())
            case _ => ()
          }
        }
        def long(f: String): Long = row.getAs[Any](f) match {
          case n: java.lang.Number => n.longValue()
          case _ => 0L
        }
        obsName match {
          case "live_metrics" =>
            inc("spark_live_chunks_processed_total", long("chunks"))
            inc("live_chunk_gaps_total", long("gap_chunks"))
            inc("chunk_checksum_failures_total{stream_type=live}",
              long("checksum_failures"))
            addLatencyObservation("live", row.getAs[org.apache.spark.sql.Row]("lat"))
            // streams-ever-seen: sum of per-batch new-key counts (flagged by
            // the keyed-state processor on each key's first-ever row) — a
            // single long per batch, replacing the O(distinct-ids) set the
            // listener used to union driver-side. Guarded by the per-query
            // batchId watermark so a checkpoint-replayed batch (same flags
            // recomputed after state rollback) adds exactly once.
            // (listener events are delivered single-threaded per listener,
            // so get-compare-put needs no atomicity beyond the map's)
            val qid = e.progress.id
            val last = newStreamsSeenBatch.getOrDefault(qid, -1L)
            if (e.progress.batchId > last) {
              newStreamsSeenBatch.put(qid, e.progress.batchId)
              streamsSeen.add(long("new_streams"))
            }
            setGauge("spark_active_live_streams", streamsSeen.sum)
          case "vod_metrics" =>
            inc("spark_vod_chunks_processed_total", long("chunks"))
            inc("spark_vod_variants_generated_total",
              long("chunks") * Processors.QualityVariants.size)
            inc("chunk_checksum_failures_total{stream_type=vod}",
              long("checksum_failures"))
            addLatencyObservation("vod", row.getAs[org.apache.spark.sql.Row]("lat"))
          case _ => ()
        }
      }
      // State-store observability (the number a 100x-scale operator watches
      // to know keyed state is BOUNDED, not leaking): per stateful operator,
      // the last progress event's total state rows, state memory, and
      // commit latency, as labeled gauges.
      val qName = Option(e.progress.name).getOrElse("unnamed")
      e.progress.stateOperators.foreach { so =>
        val labels = s"{query=$qName,operator=${so.operatorName}}"
        setGauge(s"spark_state_rows_total$labels", so.numRowsTotal)
        setGauge(s"spark_state_memory_bytes$labels", so.memoryUsedBytes)
        // commitTimeMs is Spark's per-batch SUM across the operator's
        // state-store partitions — commit work, not wall latency
        setGauge(s"spark_state_commit_sum_ms$labels", so.commitTimeMs)
      }
      publishCodegenCompilations()
      // one time-series sample per progress event feeds the dashboard
      // rate()/histogram_quantile() panels (Dashboard.series)
      Dashboard.series.record()
    }
  }

  // ------------------------------------------------------------ exposition

  private val Help: Seq[(String, String, String)] = Seq(
    // (family, TYPE, HELP) — names and help text match the reference
    // definitions scraped by monitoring/prometheus.yml
    ("spark_vod_chunks_processed_total", "counter", "Total VOD chunks processed by Spark"),
    ("spark_live_chunks_processed_total", "counter", "Total live chunks processed by Spark"),
    ("live_chunk_gaps_total", "counter", "Live chunks with detected sequence number gaps"),
    ("chunk_checksum_failures_total", "counter", "Chunk checksum validation failures"),
    ("chunk_processing_latency_seconds", "histogram",
      "Time between event timestamp and processing completion"),
    ("spark_vod_variants_generated_total", "counter",
      "Total quality variants generated for VOD chunks"),
    ("spark_active_live_streams", "gauge", "Number of live streams currently active"),
    // graft extensions beyond the reference's 7 families: keyed-state
    // boundedness telemetry (StateOperatorProgress, last progress event)
    ("spark_state_rows_total", "gauge",
      "Streaming state rows per stateful operator (last progress)"),
    ("spark_state_memory_bytes", "gauge",
      "Streaming state memory bytes per stateful operator (last progress)"),
    ("spark_state_commit_sum_ms", "gauge",
      "State store commit ms per stateful operator, summed across its " +
        "store partitions for the last batch (work, not wall latency)"),
    ("spark_codegen_compilations_total", "counter",
      "Generated classes compiled by Spark codegen in this JVM"))

  private val ApiHelp: Seq[(String, String, String)] = Seq(
    // the reference API service's scrape surface (api/main.py:66-80;
    // prometheus.yml fastapi job), name-for-name all three families.
    ("api_requests_total", "counter", "Total API requests"),
    ("api_request_duration_seconds", "histogram", "API request duration"),
    ("api_kafka_events_published_total", "counter", "Kafka events published from API"))

  private def fmtLe(b: Double): String =
    if (b.isPosInfinity) "+Inf"
    else if (b == b.toLong.toDouble) s"${b.toLong}.0"
    else b.toString

  // stored flat as name{k1=v1,k2=v2}; exposition quotes each value
  private def renderLabels(flat: String): String = {
    val open = flat.indexOf('{')
    if (open < 0 || !flat.endsWith("}")) flat
    else {
      val pairs = flat.substring(open + 1, flat.length - 1).split(",").map { p =>
        val eq = p.indexOf('=')
        if (eq < 0) p else s"""${p.substring(0, eq)}="${p.substring(eq + 1)}""""
      }
      flat.substring(0, open) + pairs.mkString("{", ",", "}")
    }
  }

  private def expositionFor(families: Seq[(String, String, String)]): String = {
    val sb = new StringBuilder
    families.foreach { case (family, typ, help) =>
      // Caveat carried in the exposition itself (plain comment lines are
      // legal in format 0.0.4): these durations time IN-PROCESS library
      // calls, so magnitudes sit orders below the reference's HTTP
      // service latency — same name and buckets, different transport cost.
      if (family == "api_request_duration_seconds")
        sb.append("# api_request_duration_seconds times in-process library calls;" +
          " magnitudes are not comparable to HTTP service latency\n")
      sb.append(s"# HELP $family $help\n# TYPE $family $typ\n")
      typ match {
        case "histogram" if family == "api_request_duration_seconds" =>
          apiDurBands.keySet().asScala.toSeq.sorted.foreach { ep =>
            apiDurationHistogram(ep).foreach { case (le, n) =>
              sb.append(s"""${family}_bucket{endpoint="$ep",le="${fmtLe(le)}"} $n""")
              sb.append('\n')
            }
            sb.append(s"""${family}_sum{endpoint="$ep"} ${apiDurationSumSeconds(ep)}""")
            sb.append('\n')
            sb.append(s"""${family}_count{endpoint="$ep"} ${apiDurationHistogram(ep).last._2}""")
            sb.append('\n')
          }
        case "histogram" =>
          histoCounts.keySet().asScala.toSeq.sorted.foreach { st =>
            latencyHistogram(st).foreach { case (le, n) =>
              sb.append(s"""${family}_bucket{stream_type="$st",le="${fmtLe(le)}"} $n""")
              sb.append('\n')
            }
            sb.append(s"""${family}_sum{stream_type="$st"} ${latencySumMs(st) / 1000.0}""")
            sb.append('\n')
            sb.append(s"""${family}_count{stream_type="$st"} ${latencyHistogram(st).last._2}""")
            sb.append('\n')
          }
        case "gauge" =>
          val labelled = gauges.asScala.keys.filter(_.startsWith(family + "{")).toSeq.sorted
          if (labelled.nonEmpty)
            labelled.foreach(k => sb.append(s"${renderLabels(k)} ${gauge(k)}\n"))
          else sb.append(s"$family ${gauge(family)}\n")
        case _ =>
          val labelled = counters.asScala.keys.filter(_.startsWith(family + "{")).toSeq.sorted
          if (labelled.nonEmpty)
            labelled.foreach(k => sb.append(s"${renderLabels(k)} ${counter(k)}\n"))
          else sb.append(s"$family ${counter(family)}\n")
      }
    }
    sb.toString
  }

  /** Prometheus text exposition format 0.0.4 over the official metric
    * surface (reference `start_http_server`, spark_streaming.py:548): the
    * 7 reference families name-for-name, plus the three spark_state_*
    * keyed-state gauges (a graft extension — state boundedness is the
    * scale-operations signal the reference never surfaced) and the codegen
    * compilation counter. Generic
    * `observation.field` counters are registry/debug-only. */
  def exposition: String = expositionFor(Help)

  /** The API service's exposition (the reference scrapes it as a separate
    * target — prometheus.yml's fastapi job). Served separately so the
    * spark-job `/metrics` stays name-for-name with its own scrape config. */
  def apiExposition: String = expositionFor(ApiHelp)

  /** Serve [[exposition]] on `/metrics` (reference default port 8766,
    * SPARK_JOB_METRICS_PORT). JDK built-in server — no dependencies; runs
    * in the driver like the reference's prometheus_client. Returns the
    * server; call `.stop(0)` to shut down. */
  def startHttpServer(port: Int = 8766): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    // concurrent scrapes must not queue behind each other (or behind a
    // slow client) on the dispatch thread
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2,
      r => { val t = new Thread(r, "graft-metrics"); t.setDaemon(true); t }))
    server.createContext("/metrics", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val body = exposition.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length.toLong)
      val os = exchange.getResponseBody
      try os.write(body) finally os.close()
    })
    server.start()
    server
  }
}
