package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

class SessionsSpec extends SparkSpec {

  test("Sessions.scala is the only SparkSession builder in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def builds(p: Path) = Files.readString(p).contains("SparkSession.builder")
    assert(files.filter(builds).map(root.relativize(_).toString) ===
      List("graft/Sessions.scala"))
  }

  test("drainListeners returns after the listener saw every finished job end") {
    val sc = spark.sparkContext
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Thread.sleep(50) // a slow listener: the bus lags the actions
        ended.add(e.jobId)
      }
    }
    sc.addSparkListener(l)
    try {
      (1 to 5).foreach(_ => sc.parallelize(1 to 10, 2).count())
      Sessions.drainListeners(sc)
      assert(ended.size >= 5)
    } finally sc.removeSparkListener(l)
  }
}
