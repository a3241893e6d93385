package perfbench

import org.apache.spark.sql.SparkSession

/** What the bench passes to a workload: its seed, how long to measure, where
  * its temporary state lives, and whether spans are recorded. */
final case class RunCtx(seed: Long, seconds: Int, trace: Boolean, work: String,
    fixtures: String, ledger: Ledger)

/** What a workload measured. `metrics` carries the end-to-end metrics under the
  * names of BENCHMARK.json, plus the workload's own end-to-end metrics that
  * have no gated counterpart; `layers` the per-layer metrics of the traced
  * run. */
final case class Outcome(
    metrics: Map[String, Metric],
    layers: Map[String, Metric],
    work: Work,
    measuredMs: Double,
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    extra: Map[String, Any] = Map.empty)

/** JVM side of the benchmark. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson>
  * [fixturesDir]`; `python3 perfbench/run.py` builds and launches it. */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seed, seconds, trace, work, out) = args.take(6)
    val fixtures = args.lift(6).getOrElse("")
    Tracer.enabled = trace == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val ctx = RunCtx(seed.toLong, seconds.toInt, Tracer.enabled, work, fixtures, ledger)
    val o = workload match {
      case "live" => LiveWorkload.run(spark, ctx)
      case "vod-backfill" => VodWorkload.run(spark, ctx)
      case "catalog" => CatalogWorkload.run(spark, ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ledger.settle()
    val w = o.work
    val layers = if (!ctx.trace) Map.empty[String, Metric] else o.layers ++ Map(
      "spark.jobs" -> Metric(w.jobs.toDouble, "count", 1),
      "spark.stages" -> Metric(w.stages.toDouble, "count", 1),
      "spark.tasks" -> Metric(w.tasks.toDouble, "count", 1),
      "spark.task_ms_sum" -> Metric(w.taskMs.toDouble, "ms", w.tasks),
      "spark.core_busy_share" -> Metric(w.taskMs / math.max(1.0, o.measuredMs * Cores), "ratio", w.tasks),
      "spark.gc_ms" -> Metric(w.gcMs.toDouble, "ms", w.tasks),
      "spark.shuffle_read_mb" -> Metric(w.shuffleReadBytes / 1e6, "MB", w.tasks),
      "spark.shuffle_write_mb" -> Metric(w.shuffleWriteBytes / 1e6, "MB", w.tasks),
      "spark.spill_mb" -> Metric(w.spillBytes / 1e6, "MB", w.tasks),
      "spark.task_skew_max" -> Metric(w.skew, "ratio", w.tasks),
      "spark.failed_jobs" -> Metric(w.failedJobs.toDouble, "count", 1),
      "trace.spans" -> Metric(Tracer.all.size.toDouble, "count", 1))
    if (ctx.trace) Tracer.write(s"$out.spans.jsonl")
    Json.write(out, Map(
      "workload" -> workload,
      "session_start_s" -> sessionS,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "errors" -> o.errors,
      "metrics" -> o.metrics.map { case (k, m) => k -> m.json },
      "layers" -> layers.map { case (k, m) => k -> m.json },
      "extra" -> o.extra))
    spark.stop()
  }
}
