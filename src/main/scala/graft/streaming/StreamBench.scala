package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.TempStores

/** Streaming throughput/latency bench: drives the live pipeline from the
  * synthetic rate source for a fixed window and prints one JSON line with
  * chunks/s and micro-batch duration percentiles. Comparable to the
  * reference's operational numbers (BASELINE.md: 1.32 chunks/s sustained,
  * live processing p99 ~2,000 ms on its 4-CPU setup; target <500 ms/batch).
  *
  * `runMain graft.streaming.StreamBench [seconds] [rowsPerSecond]`
  *
  * Two operating points matter, and the JSON reports percentiles for both
  * regimes of the SAME run minus warm-up:
  *
  *  - saturation (default 2000 rows/s): what the engine sustains;
  *  - rate-matched (e.g. `StreamBench 90 2` ~ the reference's 1.32
  *    chunks/s): steady-state latency at the reference's own operating
  *    point, the honest apples-to-apples for BASELINE.md's live p99
  *    ~2,000 ms (saturation p99 vs idle p99 compares unlike regimes).
  *
  * Warm-up batches (first SPARK_GRAFT_WARMUP_SEC seconds, default
  * min(10, seconds/3)) are excluded from the steady_* percentiles: the
  * first micro-batches pay one-time codegen + RocksDB state-store open,
  * which a long-lived deployment amortizes to zero.
  *
  * [[run]] is reusable in an existing session (graft.Bench embeds a
  * rate-matched run so BENCH artifacts carry `stream_p99_ms` as structured
  * fields); it adds and removes its own listener, so back-to-back runs
  * don't cross-contaminate.
  */
object StreamBench {

  /** Per-stateful-operator state telemetry over the run: final (= last
    * progress) state rows and memory — the boundedness signal — plus
    * per-batch commit-time percentiles. NOTE the commit figures are
    * Spark's `StateOperatorProgress.commitTimeMs`, the SUM of commit times
    * across ALL of the operator's state-store partitions in that batch
    * (32 partitions x ~400 ms each ≈ 13 s per batch is normal against a
    * sub-second wall clock) — a per-batch commit-work series, NOT a wall
    * latency. The JSON keys carry the `_sum_` marker for that reason. */
  final case class StateOpStats(
      operator: String, rowsTotal: Long, memoryBytes: Long,
      commitP50: Long, commitP99: Long)

  /** Exact (rank-selected, non-interpolated) per-chunk latency percentiles
    * over the steady window, in ms, of the reference's
    * chunk_processing_latency metric (spark_streaming.py:460-461): each
    * chunk's processing time at delivery - event timestamp, the reference's
    * own observation point (it calls time.time() while delivering each chunk
    * in foreachBatch) and the SAME quantity the histogram bands count, so
    * the interpolated panel value is directly checkable against it.
    * `samples` = chunks in the steady window. */
  final case class ExactLatency(samples: Int, dlvP50: Long, dlvP95: Long, dlvP99: Long) {
    def json: String =
      s"""{"samples":$samples,"delivered_ms_p50":$dlvP50,""" +
        s""""delivered_ms_p95":$dlvP95,"delivered_ms_p99":$dlvP99}"""
  }

  final case class Result(
      chunksPerSec: Double, chunks: Long, wallSec: Double, rps: Int,
      batches: Int, p50: Long, p95: Long, p99: Long,
      warmupSec: Int, steadyBatches: Int,
      steadyP50: Long, steadyP95: Long, steadyP99: Long,
      gaps: Long, activeStreams: Long, shufflePartitions: String,
      durable: Boolean, stateOps: Seq[StateOpStats] = Nil,
      panels: Seq[(String, Double)] = Nil,
      panelWindowMs: Long = 0L, panelNowMs: Long = 0L,
      pipeline: String = "live",
      exactLatency: ExactLatency = ExactLatency(0, 0, 0, 0)) {
    def stateOpsJson: String = stateOps.map { s =>
      s"""{"operator":"${s.operator}","rows":${s.rowsTotal},""" +
        s""""memory_bytes":${s.memoryBytes},"commit_sum_ms_p50":${s.commitP50},""" +
        s""""commit_sum_ms_p99":${s.commitP99}}"""
    }.mkString("[", ",", "]")
    /** Live dashboard panels evaluated from THIS run's recorded series —
      * the reference's Grafana infographic computed from a measured
      * stream. Self-describing envelope: the window and evaluation
      * instant are included so the values re-derive from the series
      * alone (pinned by StreamingPipelineSpec). NaN (no increase in
      * window) serializes as null. */
    def panelsJson: String = {
      val vals = panels.map { case (name, v) =>
        val vs = if (v.isNaN || v.isInfinite) "null" else f"$v%.3f"
        s""""$name":$vs"""
      }.mkString("{", ",", "}")
      s"""{"window_ms":$panelWindowMs,"now_ms":$panelNowMs,"values":$vals}"""
    }
  }

  /** Default state-store partition count for the rate-matched bench legs.
    * The keyed stage's state-store count is a THROUGHPUT sizing decision,
    * not a CPU-count one: every store pays a fixed per-batch commit floor
    * (changelog append + fsync — profiled at ~400 ms/store summed to ~13 s
    * across 32 stores per batch on this host, the entirety of the ~1 s
    * steady batch time r14 measured), so a deployment sizes stores to
    * peak-rate x per-store commit capacity and scales the count UP with
    * load. At the reference's operating point (~2 chunks/s over 16 stream
    * keys) 4 stores is generous; measured steady batch p50 dropped
    * 992 -> 532 ms. Env-overridable; recorded in every artifact. */
  val DefaultStatePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4").toInt

  /** Drive the live (or VOD — `pipeline = "vod"`) pipeline for `seconds` at
    * `rps` rows/s and collect micro-batch percentiles. Safe to call
    * repeatedly in one session. `statePartitions` sets the session's
    * shuffle width for the stream's keyed stage (restored afterwards). */
  def run(spark: SparkSession, seconds: Int, rps: Int,
      durable: Boolean, warmupSec: Int, pipeline: String = "live",
      statePartitions: Int = DefaultStatePartitions): Result = {
    require(pipeline == "live" || pipeline == "vod", s"unknown pipeline: $pipeline")
    val vod = pipeline == "vod"
    // (ns-at-completion, triggerExecution ms) per non-empty batch
    val batches = new ConcurrentLinkedQueue[(Long, Long)]()
    // per non-empty batch: the observe()d exact per-chunk latencies
    // (ns-at-completion, lat.ms_sorted)
    val batchLats = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    // per stateful operator: last-seen (rows, memory) + all commit latencies
    val stateLast = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val stateCommits = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        e.progress.stateOperators.foreach { so =>
          stateLast.put(so.operatorName, (so.numRowsTotal, so.memoryUsedBytes))
          stateCommits.add((so.operatorName, so.commitTimeMs))
        }
        if (e.progress.numInputRows > 0) {
          // triggerExecution is the end-to-end micro-batch time; the other
          // durationMs entries are its sub-phases (summing would double-count).
          Option(e.progress.durationMs.get("triggerExecution"))
            .foreach { ms =>
              val now = System.nanoTime()
              batches.add((now, ms.toLong))
              // exact per-chunk latencies ride the same observation as the
              // histogram bands (cluster-correct driver channel, bounded by
              // the source rate limit + MaxLatencyObservations)
              val om = e.progress.observedMetrics
              Option(om.get(s"${pipeline}_metrics")).foreach { row =>
                val lat = row.getStruct(row.fieldIndex("lat"))
                val lats = lat.getSeq[Long](lat.fieldIndex("ms_sorted"))
                if (lats.nonEmpty) batchLats.add((now, lats))
              }
            }
          // SPARK_GRAFT_STREAM_PROFILE=1: dump the full progress JSON
          // (phase breakdown + state-store commit metrics) to stderr, one
          // line per batch, for offline micro-batch-floor analysis.
          if (sys.env.get("SPARK_GRAFT_STREAM_PROFILE").contains("1"))
            System.err.println("STREAM_PROFILE " + e.progress.json)
        }
      }
    }

    Metrics.reset()
    // The panel series is process-wide: clear it so this run's panels are
    // computed from THIS run's samples only (a previous leg's samples
    // carry pre-reset counter values and would corrupt the window rates).
    Dashboard.series.clear()
    Pipelines.registerProgressListener(spark) // official totals arrive driver-side
    Sinks.InMemoryObjectStore.clear("sbench")
    Sinks.InMemoryMetadataSink.clear("sbench")
    // durable = filesystem-backed sinks (real atomic-move writes per chunk)
    // instead of the in-memory stores
    val storeRoot =
      if (durable) Some(Files.createTempDirectory("graft-sbench-store")) else None
    val (objects, meta): (Sinks.ObjectStore, Sinks.MetadataSink) = storeRoot match {
      case Some(root) =>
        (new Sinks.FileObjectStore(s"$root/objects"), new Sinks.FileMetadataSink(s"$root/meta"))
      case None =>
        (new Sinks.InMemoryObjectStore("sbench"), new Sinks.InMemoryMetadataSink("sbench"))
    }
    val ckptDir = Files.createTempDirectory("graft-sbench-ckpt")
    val ckpt = ckptDir.toString
    // Size the keyed stage's state-store count to the operating point (see
    // DefaultStatePartitions): the conf is read at stream start (fresh
    // checkpoint each run), restored after so batch work on a shared
    // session keeps its own width.
    val savedShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    // the conf and the listener are restored on every path, a failed run
    // too; the store and checkpoint dirs live only as long as the query
    val (wallSec, processed) = try {
      try {
        val q =
          if (vod)
            Pipelines.startVod(
              StreamSources.syntheticVodSource(spark, rowsPerSecond = rps, nStreams = 16),
              objects, meta, ckpt)
          else
            Pipelines.startLive(
              StreamSources.syntheticLiveSource(spark, rowsPerSecond = rps, nStreams = 16),
              objects, meta, ckpt)
        try q.awaitTermination(seconds * 1000L) finally {
          // Stop BETWEEN triggers, not mid-batch: stop() interrupts any
          // in-flight foreachPartition task and the killed task's stack trace
          // lands in the bench output looking like a sink failure (r8 "what's
          // wrong" #2). With a 1 s trigger and sub-second batches there is an
          // idle window every cycle; wait (bounded) for the current trigger to
          // finish, then stop while the query is idle.
          val deadline = System.nanoTime() + 10_000_000_000L
          try while (q.status.isTriggerActive && System.nanoTime() < deadline)
            Thread.sleep(50)
          catch { case _: Throwable => () }
          q.stop()
        }
      } finally (storeRoot.toSeq :+ ckptDir).foreach(d => TempStores.deleteRecursively(d.toFile))
      val wallSec = (System.nanoTime() - t0) / 1e9
      // listener bus is async — let the final progress events drain
      val processedCounter = s"spark_${pipeline}_chunks_processed_total"
      var prev = -1L
      var cur = Metrics.counter(processedCounter)
      while (cur != prev) {
        prev = cur; Thread.sleep(300)
        cur = Metrics.counter(processedCounter)
      }
      (wallSec, cur)
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", savedShuffle)
    }
    val all = batches.asScala.toSeq
    val durations = all.map(_._2).sorted
    // Warm-up window is anchored at the FIRST RECORDED BATCH, not at bench
    // start: session/stream startup (~10 s before batch 0 completes) used
    // to consume the whole window, so nothing was excluded and the first
    // expensive codegen/state-open batches polluted the "steady"
    // percentiles (r8: steadyBatches == batches on a 36-batch run).
    val firstBatchNs = if (all.isEmpty) 0L else all.map(_._1).min
    val steady =
      all.filter(_._1 - firstBatchNs >= warmupSec * 1_000_000_000L).map(_._2).sorted
    def pct(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) 0L
      else xs(math.min(xs.size - 1, (p * xs.size).toInt))
    // Evaluate every live panel of the reference dashboard from the run's
    // own recorded series (SURVEY §6's infographic loop): the evaluation
    // instant and window are captured in the Result so a spec — or a
    // reader of the artifact — can re-derive the identical values from
    // the same series. Window = the dashboard's own [1m] range selector,
    // evaluated at run end — exactly what Grafana would show live at that
    // moment (on a 60 s+warm-up leg that is the steady tail; a shorter
    // spec run is covered whole).
    val panelNow = System.currentTimeMillis()
    val panelWindow = 60000L
    val panelVals = Dashboard.panelCatalog(panelWindow, panelNow)
      .flatMap(p => p.value.map(f => p.panel -> f()))
    // Exact per-chunk latency over the steady window (r14 verdict #1): rank
    // selection over every chunk's recorded latency — no bucket
    // interpolation.
    val dlvLats = batchLats.asScala.toSeq
      .filter(_._1 - firstBatchNs >= warmupSec * 1_000_000_000L)
      .flatMap(_._2).sorted
    val exact = ExactLatency(dlvLats.size,
      pct(dlvLats, 0.5), pct(dlvLats, 0.95), pct(dlvLats, 0.99))
    Result(
      chunksPerSec = processed / wallSec, chunks = processed, wallSec = wallSec,
      rps = rps, batches = durations.size,
      p50 = pct(durations, 0.5), p95 = pct(durations, 0.95), p99 = pct(durations, 0.99),
      warmupSec = warmupSec, steadyBatches = steady.size,
      steadyP50 = pct(steady, 0.5), steadyP95 = pct(steady, 0.95),
      steadyP99 = pct(steady, 0.99),
      gaps = Metrics.counter("live_chunk_gaps_total"),
      activeStreams = Metrics.activeLiveStreams,
      // the width the STREAM's keyed stage actually ran at
      shufflePartitions = statePartitions.toString,
      durable = durable,
      stateOps = stateLast.asScala.toSeq.sortBy(_._1).map { case (op, (rows, bytes)) =>
        val commits = stateCommits.asScala.collect { case (`op`, ms) => ms }.toSeq.sorted
        StateOpStats(op, rows, bytes, pct(commits, 0.5), pct(commits, 0.99))
      },
      panels = panelVals, panelWindowMs = panelWindow, panelNowMs = panelNow,
      pipeline = pipeline, exactLatency = exact)
  }

  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(30)
    val rps = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val warmupSec = sys.env.get("SPARK_GRAFT_WARMUP_SEC").map(_.toInt)
      .getOrElse(math.min(10, seconds / 3))
    val spark = graft.Sessions.local("graft-stream-bench", defaultCpus = 32)

    val durable = sys.env.get("SPARK_GRAFT_DURABLE").contains("1")
    val pipeline = sys.env.getOrElse("SPARK_GRAFT_STREAM_PIPELINE", "live")
    val r = run(spark, seconds, rps, durable, warmupSec, pipeline)
    val json =
      s"""{"metric":"stream_throughput","pipeline":"${r.pipeline}",""" +
        s""""chunk_latency_exact":${r.exactLatency.json},""" +
        s""""chunks_per_sec":${"%.1f".format(r.chunksPerSec)},""" +
        s""""chunks":${r.chunks},"wall_sec":${"%.1f".format(r.wallSec)},""" +
        s""""rows_per_sec_requested":${r.rps},""" +
        s""""batches":${r.batches},"batch_ms_p50":${r.p50},""" +
        s""""batch_ms_p95":${r.p95},"batch_ms_p99":${r.p99},""" +
        s""""warmup_sec":${r.warmupSec},"steady_batches":${r.steadyBatches},""" +
        s""""steady_batch_ms_p50":${r.steadyP50},""" +
        s""""steady_batch_ms_p95":${r.steadyP95},""" +
        s""""steady_batch_ms_p99":${r.steadyP99},""" +
        s""""gaps":${r.gaps},""" +
        s""""active_streams":${r.activeStreams},""" +
        s""""shuffle_partitions":${r.shufflePartitions},""" +
        s""""durable_sinks":${r.durable},""" +
        s""""state_operators":${r.stateOpsJson},""" +
        s""""panels":${r.panelsJson}}"""
    println(json)
    spark.stop()
  }
}
