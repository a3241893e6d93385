package graft.streaming

/** Runnable end-to-end demo of the full topology on the synthetic source:
  * two queries (VOD 5 s / live 1 s triggers), RocksDB keyed state, in-memory
  * sinks, metrics. `runMain graft.streaming.PipelineDemo [seconds]`.
  *
  * This is the reference's `spark_streaming.py main()` shape: build session,
  * attach sources, start both queries, block on awaitAnyTermination —
  * except bounded by a timeout so it doubles as a smoke run. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(10)
    // a fresh temp checkpoint every run: no state layout pins the width
    val spark = graft.Sessions.local("graft-pipeline-demo", defaultCpus = 8)

    val objects = new Sinks.InMemoryObjectStore("demo")
    val meta = new Sinks.InMemoryMetadataSink("demo")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-demo-ckpt").toString

    // Control plane: one VOD upload feeding the VOD topic via a MemoryStream
    // stand-in is overkill here — the demo drives the LIVE path with the
    // synthetic generator and prints the metric surface.
    // gapEvery=40: the demo horizon (~seconds*50 rows over 3 streams) must
    // cross several gap points so the gap counters are exercised.
    val live = StreamSources.syntheticLiveSource(spark, rowsPerSecond = 50, nStreams = 3,
      gapEvery = 40)
    val vod = StreamSources.syntheticLiveEvents(
      spark.readStream.format("rate").option("rowsPerSecond", "2").load(), nStreams = 1)

    Pipelines.registerProgressListener(spark)
    val vodQ = Pipelines.startVod(vod, objects, meta, s"$ckpt/vod")
    val liveQ = Pipelines.startLive(live, objects, meta, s"$ckpt/live")

    // T7: block until either query dies or the demo window elapses.
    spark.streams.awaitAnyTermination(seconds * 1000L)
    liveQ.stop(); vodQ.stop()

    println("=== metric surface ===")
    Metrics.snapshot.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"$k%-60s $v") }
    println(f"live latency histogram (le -> n): " +
      Metrics.latencyHistogram("live").map { case (b, n) => s"$b:$n" }.mkString(" "))
    println(s"live_metadata rows: ${meta.count("live_metadata")}")
    println(s"manifests: ${objects.keys("manifests").size}")
    println("=== prometheus exposition (/metrics) ===")
    print(Metrics.exposition)
    println("=== dashboard panels (60s window) ===")
    Dashboard.panels().foreach { case (title, v) =>
      println(f"$title%-40s ${if (v.isNaN) "NaN" else f"$v%.2f"}")
    }
    Dashboard.storagePanels(objects, Seq("live-streams", "manifests", "vod-variants"))
      .foreach { case (b, n, bytes) => println(f"storage: $b%-14s objects=$n bytes=$bytes") }
    spark.stop()
  }
}
