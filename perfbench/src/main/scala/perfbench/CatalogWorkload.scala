package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.QueryDef
import graft.sources.Tables

/** `catalog`: two fixed query sets over seeded fixtures, each query evaluated
  * to the `noop` sink; the first pass writes parquet for the oracle check and
  * is not timed.
  *
  * The curation set is bound by the operator layers; the relational set by
  * scans, joins and aggregates. An operator change should move the first and
  * leave the second alone. */
object CatalogWorkload {
  /** One query per operator family: similarity (LSH kNN), sketches,
    * retrieval, graph loops (fixed-point PageRank), and multimodal dedup
    * (decoded-image perceptual hashes, banded Hamming candidate pairs). */
  val Curation: Seq[String] = Seq("q44_lsh_knn", "q87_cms_heavy_hitters", "q133_bm25_topk",
    "q138_event_pagerank", "q159_image_phash_dedup")
  /** Scan-aggregate, the five-way join, and two events-table batch twins of
    * the stream pipeline (q21 gap detection, q28 chunk decode). */
  val Relational: Seq[String] = Seq("q01_pricing_summary", "q04_revenue_by_nation",
    "q21_gap_detection", "q28_chunk_decode")

  val ScanTables: Seq[String] = Seq("documents", "events", "embeddings", "lineitem", "orders")
  val SetupReps = 3
  val MinPasses = 2

  private def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def run(spark0: SparkSession, ctx: RunCtx): Outcome = {
    val dir = ctx.fixtures
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val sets = Seq("curation" -> Curation, "relational" -> Relational)
    val queries: Seq[QueryDef] = sets.flatMap(_._2).map(byName)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    // set-up: a fresh session that resolves every fixture table and runs a
    // first job over one of them
    var spark = spark0
    val setupMs = (1 to SetupReps).map { _ =>
      timedMs {
        spark = spark0.newSession()
        Tables.all.foreach(t => Tables(spark, dir, t).schema)
        Tables(spark, dir, "documents").count()
      }._2
    }

    // warm-up pass: results go to parquet for the oracle comparison
    val warmMs = mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { q =>
      attempted += 1
      val t0 = System.nanoTime()
      try q.fn(spark, dir).write.mode("overwrite").parquet(s"${ctx.work}/out/${q.name}")
      catch { case e: Throwable => errors += s"${q.name}: warm-up failed: ${e.toString.take(300)}" }
      warmMs(q.name) = (System.nanoTime() - t0) / 1e6
    }

    val scanLayers = if (!ctx.trace) Map.empty[String, Metric] else ScanTables.flatMap { t =>
      val g = s"${Ledger.GroupPrefix}scan|$t"
      spark.sparkContext.setJobGroup(g, s"scan $t")
      val (_, ms) = timedMs(Tables(spark, dir, t).write.format("noop").mode("overwrite").save())
      spark.sparkContext.clearJobGroup()
      ctx.ledger.settle()
      val w = ctx.ledger.total(_ == g)
      Seq(s"scan.${t}_s" -> Metric(ms / 1e3, "s", 1), s"scan.${t}_tasks" -> Metric(w.tasks.toDouble, "count", 1))
    }.toMap

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val leftovers = mutable.LinkedHashMap.empty[String, Int]
    val start = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      pass += 1
      val passSpan = Tracer.nextId()
      val passStart = System.currentTimeMillis().toDouble
      queries.foreach { q =>
        val group = s"${Ledger.GroupPrefix}p$pass|${q.name}"
        val span = Tracer.nextId()
        ctx.ledger.registerParent(group, span, s"pass$pass")
        spark.sparkContext.setJobGroup(group, q.name)
        attempted += 1
        val s0 = System.currentTimeMillis().toDouble
        try {
          val (_, ms) = timedMs(q.fn(spark, dir).write.format("noop").mode("overwrite").save())
          times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += ms
        } catch { case e: Throwable => errors += s"${q.name}: pass $pass failed: ${e.toString.take(300)}" }
        spark.sparkContext.clearJobGroup()
        Tracer.add(Span(span, s"pass$pass", s"query.${q.name}", s0, System.currentTimeMillis().toDouble, passSpan))
        leftovers(q.name) = spark.sparkContext.getPersistentRDDs.size
      }
      Tracer.add(Span(passSpan, s"pass$pass", "catalog.pass", passStart, System.currentTimeMillis().toDouble, 0L))
    }
    val measuredMs = (System.nanoTime() - start) / 1e6
    ctx.ledger.settle()

    val scopes = ctx.ledger.scopes
    def workOf(name: String, p: Int): Work = scopes.getOrElse(s"${Ledger.GroupPrefix}p$p|$name", new Work)
    val perQuery = queries.map(q => q.name -> Stats.median(times.getOrElse(q.name, mutable.ArrayBuffer(Double.NaN)).toSeq)).toMap
    val setS = sets.map { case (set, names) => set -> Stats.sum(names.map(perQuery)) / 1e3 }.toMap
    val total = new Work
    for (q <- queries; p <- 1 to pass) total.add(workOf(q.name, p))
    // determinism: a fixed plan repeats its job/stage/task counts on every pass
    val shapes = queries.map(q => q.name -> (1 to pass).map(p => workOf(q.name, p).shape)).toMap
    val unstable = shapes.collect { case (n, ss) if ss.distinct.size > 1 => n }.toSeq.sorted

    val setLayers = if (!ctx.trace) Map.empty[String, Metric] else sets.flatMap { case (set, names) =>
      val w = new Work
      for (n <- names; p <- 1 to pass) w.add(workOf(n, p))
      val wall = Stats.sum(names.flatMap(n => times.getOrElse(n, Nil)))
      Seq(
        s"$set.jobs" -> Metric(w.jobs.toDouble, "count", pass),
        s"$set.stages" -> Metric(w.stages.toDouble, "count", pass),
        s"$set.tasks" -> Metric(w.tasks.toDouble, "count", pass),
        s"$set.task_ms_sum" -> Metric(w.taskMs.toDouble, "ms", w.tasks),
        s"$set.core_busy_share" -> Metric(w.taskMs / math.max(1.0, wall * Main.Cores), "ratio", w.tasks),
        s"$set.shuffle_read_mb" -> Metric(w.shuffleReadBytes / 1e6, "MB", w.tasks),
        s"$set.shuffle_write_mb" -> Metric(w.shuffleWriteBytes / 1e6, "MB", w.tasks),
        s"$set.spill_mb" -> Metric(w.spillBytes / 1e6, "MB", w.tasks),
        s"$set.gc_ms" -> Metric(w.gcMs.toDouble, "ms", w.tasks),
        s"$set.task_skew_max" -> Metric(w.skew, "ratio", w.tasks),
        s"$set.persisted_rdds_left" -> Metric(names.map(leftovers.getOrElse(_, 0)).max.toDouble, "count", names.size))
    }.toMap ++ queries.map(q => s"query.${q.name}_s" -> Metric(perQuery(q.name) / 1e3, "s", pass)).toMap

    Outcome(
      metrics = Map(
        "setup_s" -> Metric(Stats.median(setupMs) / 1e3, "s", SetupReps),
        "latency_p50_ms" -> Metric(Stats.median(perQuery.values.toSeq), "ms", queries.size),
        "latency_p95_ms" -> Metric(Stats.quantile(perQuery.values.toSeq, 0.95), "ms", queries.size),
        "throughput_per_s" -> Metric(queries.size / (setS.values.sum), "1/s", queries.size),
        "curation_s" -> Metric(setS("curation"), "s", Curation.size.toLong * pass),
        "relational_s" -> Metric(setS("relational"), "s", Relational.size.toLong * pass)),
      layers = scanLayers ++ setLayers,
      work = total,
      measuredMs = measuredMs,
      attempted = attempted,
      failed = errors.size.toLong,
      errors = errors.toSeq,
      extra = Map(
        "passes" -> pass,
        "warmup_ms" -> warmMs,
        "oracle_sql" -> queries.flatMap(q => q.oracle.map(s => q.name -> s.replaceAll("\\s+", " ").trim)).toMap,
        "queries" -> queries.map(_.name),
        "work_shape" -> shapes.map { case (n, ss) => n -> ss.map { case (j, s, t) => Seq(j, s, t) } },
        "unstable_shapes" -> unstable,
        "query_ms" -> times.map { case (n, ts) => n -> ts.toSeq }))
  }
}
