package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Work counted for one scope: a catalog query call (its job group) or a
  * streaming micro-batch. */
final class Work {
  var jobs = 0L
  var failedJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]

  def add(o: Work): Unit = {
    jobs += o.jobs; failedJobs += o.failedJobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    taskDurations ++= o.taskDurations
  }

  /** Slowest task over the median task: how much one straggler sets the pace. */
  def skew: Double =
    if (taskDurations.isEmpty) 0.0
    else {
      val med = math.max(1.0, Stats.median(taskDurations.map(_.toDouble).toSeq))
      taskDurations.max / med
    }

  /** The counts that repeat exactly for a fixed plan. */
  def shape: (Long, Long, Long) = (jobs, stages, tasks)
}

/** Bench-owned SparkListener: charges every job, stage and task to the scope
  * its job was started under, and records job/stage spans under a parent span
  * the bench registered for that scope. */
final class Ledger extends SparkListener {
  private val work = mutable.LinkedHashMap.empty[String, Work]
  private val stageScope = mutable.HashMap.empty[Int, String]
  private val jobScope = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val parents = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  @volatile private var started = 0L
  @volatile private var ended = 0L

  /** Scope of a job: the bench's job group, else the streaming batch id. */
  private def scopeOf(p: java.util.Properties): String = {
    if (p == null) "other"
    else Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith(Ledger.GroupPrefix))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _))
      .getOrElse("other")
  }

  /** Jobs started under `scope` get spans under `spanId`, in trace `trace`. */
  def registerParent(scope: String, spanId: Long, trace: String): Unit =
    parents.put(scope, (spanId, trace))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val s = scopeOf(e.properties)
    jobScope(e.jobId) = s
    jobStartMs(e.jobId) = e.time
    e.stageInfos.foreach { si =>
      stageScope.getOrElseUpdate(si.stageId, s)
      stageJob.getOrElseUpdate(si.stageId, e.jobId)
    }
    val w = work.getOrElseUpdate(s, new Work)
    w.jobs += 1
    if (Tracer.enabled && parents.containsKey(s)) jobSpan(e.jobId) = Tracer.nextId()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    val s = jobScope.getOrElse(e.jobId, "other")
    if (!e.jobResult.isInstanceOf[JobSucceeded.type])
      work.getOrElseUpdate(s, new Work).failedJobs += 1
    jobSpan.get(e.jobId).foreach { id =>
      val (parent, trace) = parents.get(s)
      Tracer.add(Span(id, trace, "spark.job", jobStartMs(e.jobId).toDouble, e.time.toDouble,
        parent, Map("job_id" -> e.jobId)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stageScope.getOrElse(si.stageId, "other")
    work.getOrElseUpdate(s, new Work).stages += 1
    for {
      job <- stageJob.get(si.stageId)
      parent <- jobSpan.get(job)
      t0 <- si.submissionTime
      t1 <- si.completionTime
    } Tracer.add(Span(Tracer.nextId(), parents.get(s)._2, "spark.stage", t0.toDouble, t1.toDouble, parent,
      Map("stage_id" -> si.stageId, "tasks" -> si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work.getOrElseUpdate(stageScope.getOrElse(e.stageId, "other"), new Work)
    w.tasks += 1
    w.taskDurations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until the listener bus has delivered every job end it started. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && !(started == ended && last == ended)) {
      last = ended
      Thread.sleep(100)
    }
    Thread.sleep(100)
  }

  def scopes: Map[String, Work] = synchronized(work.toMap)

  def total(pred: String => Boolean): Work = synchronized {
    val t = new Work
    work.foreach { case (k, w) => if (pred(k)) t.add(w) }
    t
  }
}

object Ledger {
  val GroupPrefix = "perfbench|"
}
