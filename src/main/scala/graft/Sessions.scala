package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one place an entry point builds its SparkSession, the one fence on
  * the listener bus that its instruments read behind, and the one sweep
  * of persisted RDDs between measured runs. */
object Sessions {

  /** A local session for `app`. The rule, with the environment unset or set:
    *   - master `local[N]`, N = `SPARK_GRAFT_CPUS`, else `defaultCpus`;
    *   - `spark.sql.shuffle.partitions` = `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
    *     else N (a cluster-style width decoupled from the thread count is
    *     an experiment, not a default);
    *   - session time zone UTC, Spark UI off, log level WARN (Spark logs to
    *     stderr, so a main's stdout contract is untouched).
    * A caller that needs N later reads `sparkContext.defaultParallelism`
    * (N under `local[N]`), never the environment a second time. */
  def local(app: String, defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val FenceKey = "graft.listener.fence"

  /** Returns once every listener on the shared listener-bus queue has seen
    * every event posted before the call: the job, stage and SQL-execution
    * events of each action this thread already finished (a job's end is
    * posted before its action returns). Listeners added with
    * `addSparkListener` and `QueryExecutionListener`s both sit on that
    * queue, which delivers in order, so a fence job's start reaching a
    * latch listener closes the window. A sleep only makes that likely. */
  def drainListeners(sc: SparkContext): Unit = {
    val id = java.util.UUID.randomUUID.toString
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(FenceKey) == id)) seen.countDown()
    }
    sc.addSparkListener(l)
    val prev = sc.getLocalProperty(FenceKey)
    try {
      sc.setLocalProperty(FenceKey, id)
      sc.parallelize(Seq(1), 1).count()
      require(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain within 60 s")
    } finally {
      sc.setLocalProperty(FenceKey, prev)
      sc.removeSparkListener(l)
    }
  }

  /** Unpersists every persisted RDD of `sc`, blocking until the blocks are
    * removed, so the next measured run starts from empty storage. Frames
    * returned materialized (a `localCheckpoint`, which persists its source
    * RDD) are among them (BenchHygieneSpec pins this); dropping them is safe
    * between runs, each of which builds its plan from scratch. */
  def dropPersisted(sc: SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}
