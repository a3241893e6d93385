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

  /** Spark jobs `f` runs from this thread. The listener bus is async: a
    * fence job in its own group, seen after every job `f` started, closes
    * the count. */
  def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet(); ()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "spec job count")
      f
      sc.setJobGroup(s"$group-fence", "spec job count fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      n.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
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
