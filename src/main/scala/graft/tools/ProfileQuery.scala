package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import graft.Sessions

/** Generic per-stage profiler for one catalog query (guide §1: decide where
  * the wall time goes BEFORE touching the plan). Runs the query under a
  * SparkListener and prints, for the measured rep, every job (wall,
  * description) and every stage (wall, task count, executor-run/GC sums,
  * shuffle bytes, callsite) sorted by submission — the local-mode stand-in
  * for the Stages tab of the UI, which the bench keeps disabled. Each rep's
  * header also counts the generated classes Spark compiled during the rep
  * (codegen cache misses).
  *
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery <query>"`
  */
object ProfileQuery {
  private final case class StageRow(
      id: Int, attempt: Int, name: String, wallMs: Long, tasks: Int,
      runMs: Long, gcMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double)
  private val RepKey = "graft.profile.rep"

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <queryName> [reps]"))
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-profile-query", defaultCpus = 32)
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query: $name"))

    // warm-up rep (codegen/JIT/parquet footers), unmeasured
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    Sessions.dropPersisted(spark.sparkContext)

    (1 to reps).foreach { rep =>
      // Each rep gets its own listener and buffers, and keeps only the jobs
      // carrying its local property (broadcast jobs inherit it; they do not
      // keep the caller's job group) and their stages: the listener-bus
      // fence job is neither counted nor written into the buffers while
      // they are read.
      val repId = s"$name-$rep-${System.nanoTime()}"
      val stages = mutable.ArrayBuffer[StageRow]()
      val jobs = mutable.ArrayBuffer[(Int, Long, String)]()
      val jobStart = mutable.Map[Int, (Long, String)]()
      val repStages = mutable.Set[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          if (props.exists(_.getProperty(RepKey) == repId)) {
            jobStart(e.jobId) = (e.time,
              props.flatMap(p => Option(p.getProperty("spark.job.description")))
                .getOrElse(""))
            repStages ++= e.stageIds
          }
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          jobStart.remove(e.jobId).foreach { case (t0, d) =>
            jobs += ((e.jobId, e.time - t0, d))
          }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val s = e.stageInfo
          if (repStages.contains(s.stageId)) {
            val wall = (for {a <- s.submissionTime; b <- s.completionTime}
              yield b - a).getOrElse(-1L)
            val m = s.taskMetrics
            stages += StageRow(s.stageId, s.attemptNumber(), s.name, wall,
              s.numTasks, m.executorRunTime, m.jvmGCTime,
              m.shuffleReadMetrics.totalBytesRead / 1e6,
              m.shuffleWriteMetrics.bytesWritten / 1e6,
              m.inputMetrics.bytesRead / 1e6)
          }
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      sc.setLocalProperty(RepKey, repId)
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally sc.setLocalProperty(RepKey, null)
      val wall = (System.nanoTime() - t0) / 1e9
      // generated classes Spark compiled this rep (its codegen cache missed)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      Sessions.drainListeners(sc)
      sc.removeSparkListener(listener)
      println(f"\n=== $name rep $rep: wall $wall%.2f s, " +
        f"${jobs.size} jobs, ${stages.size} stages, $compiled classes compiled ===")
      println(f"${"job"}%4s ${"ms"}%7s  description")
      jobs.sortBy(_._1).foreach { case (id, ms, d) =>
        println(f"$id%4d $ms%7d  ${d.take(90)}")
      }
      println(f"\n${"stage"}%6s ${"wall"}%6s ${"tasks"}%5s ${"run"}%7s " +
        f"${"gc"}%5s ${"shR"}%7s ${"shW"}%7s ${"in"}%7s  name")
      stages.sortBy(_.id).foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%6d ${r.tasks}%5d ${r.runMs}%7d " +
          f"${r.gcMs}%5d ${r.shufReadMB}%7.1f ${r.shufWriteMB}%7.1f " +
          f"${r.inputMB}%7.1f  ${r.name.take(70)}")
      }
      val sumWall = stages.filter(_.wallMs > 0).map(_.wallMs).sum
      println(f"sum of stage walls: $sumWall ms (overlap makes this > job " +
        "wall when independent stages run concurrently)")
      Sessions.dropPersisted(spark.sparkContext)
    }
    spark.stop()
  }
}
