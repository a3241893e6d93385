package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Sessions
import graft.queries.QueryDef

/** Snapshot the formatted physical plan of a set of catalog queries into
  * one file per query — the before/after evidence files the optimization
  * rounds commit under plans/rNN/ (the judge reads these instead of running
  * Spark).
  *
  * `sbt "runMain graft.tools.PlanSnap <outDir> <tag> <q1> <q2> ..."`
  * writes `<outDir>/<query>_<tag>.txt` (the final plan, captured before it
  * runs) and `<outDir>/<query>_<tag>.exchanges.txt` (every distinct
  * exchange the query's actions executed, eager checkpoint and cache fills
  * included: those show in the final plan only as `Scan ExistingRDD`).
  * SPARK_GRAFT_SF_DIR picks the data (default sf0.01 — plan SHAPE is
  * SF-independent; sizes are not the point).
  */
object PlanSnap {

  /** Every node of `p`, looking through AQE wrappers, query stages, reused
    * exchanges, cached relations and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => p.children ++ p.subqueries
  }).flatMap(planNodes)

  /** The executed plans of every SQL action `f` runs (eager checkpoints and
    * cache fills included), read once the listener bus has drained. */
  def executedPlans(spark: SparkSession)(f: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      Sessions.drainListeners(spark.sparkContext)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }

  /** One line per distinct exchange in `plans`, in execution order:
    * kind, shuffle origin, width, and the partitioning (shuffle) or mode
    * (broadcast) with expression ids stripped. */
  def exchangeLedger(plans: Seq[SparkPlan]): Seq[String] = {
    def noIds(s: String) = s.replaceAll("#\\d+L?", "")
    plans.flatMap(planNodes).collect {
      case e: ShuffleExchangeExec => e
      case e: BroadcastExchangeExec => e
    }.distinctBy(_.canonicalized).map {
      case e: ShuffleExchangeExec =>
        s"ShuffleExchange ${e.shuffleOrigin} ${e.numPartitions} " +
          noIds(e.outputPartitioning.toString)
      case e: BroadcastExchangeExec => s"BroadcastExchange - - ${noIds(e.mode.toString)}"
    }
  }

  /** `q`'s formatted final plan and the exchange ledger of building and
    * running it to a noop sink. */
  def snapshot(spark: SparkSession, q: QueryDef, sfDir: String): (String, Seq[String]) = {
    var plan = ""
    val plans = executedPlans(spark) {
      val df = q.fn(spark, sfDir)
      plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      df.write.format("noop").mode("overwrite").save()
    }
    (plan, exchangeLedger(plans))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <tag> <query...>")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local("graft-plan-snap", defaultCpus = 8)
    Files.createDirectories(outDir)
    val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      val (plan, exchanges) = snapshot(spark, q, sfDir)
      // release anything the query construction persisted/checkpointed so
      // successive snapshots don't accumulate cached blocks
      Sessions.dropPersisted(spark.sparkContext)
      val f = outDir.resolve(s"${name}_$tag.txt")
      Files.write(f, plan.getBytes(StandardCharsets.UTF_8))
      Files.write(outDir.resolve(s"${name}_$tag.exchanges.txt"),
        exchanges.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"wrote $f")
    }
    spark.stop()
  }
}
