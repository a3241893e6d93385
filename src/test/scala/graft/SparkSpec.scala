package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite JVM fork;
  * small core/partition counts keep unit runs fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs `f` runs from this thread: the jobs started in its own job
    * group, counted once the listener bus has drained past them. */
  def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "spec job count")
      try f finally sc.clearJobGroup()
      Sessions.drainListeners(sc)
      n.get()
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // Default is fail-fast local[4]; the chaos suite's JVM (see build.sbt
    // testGrouping) overrides to "local[4, 2]" so its task-kill test
    // exercises Spark's retry path WITHOUT retry-masking flaky task
    // failures in every other suite.
    val s = SparkSession.builder()
      .master(sys.props.getOrElse("graft.spec.master", "local[4]"))
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
