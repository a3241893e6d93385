package graft.operators

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Streaming LSH near-dup filter: bucket claim -> exact-Jaccard refinement
  * in keyed state, cross-batch, with the batch banding's exact bucket
  * formula. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single afternoon"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog while the cat watches from the cold windowsill every single afternoon"
  private val different =
    "columnar execution engines vectorize expression evaluation across record batches for throughput"

  test("jaccardSorted: merge walk over sorted distinct arrays") {
    assert(StreamingDedup.jaccardSorted(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) === 0.5)
    assert(StreamingDedup.jaccardSorted(Array.emptyLongArray, Array.emptyLongArray) === 0.0)
    assert(StreamingDedup.jaccardSorted(Array(1L), Array.emptyLongArray) === 0.0)
    val hs = StreamingDedup.hashSet(base, 3)
    assert(StreamingDedup.jaccardSorted(hs, hs) === 1.0)
    assert(hs.toSeq === hs.toSeq.sorted && hs.toSeq.distinct === hs.toSeq)
  }

  test("streaming near-dup: later arrival in a claimed bucket is flagged with exact jaccard") {
    // pick a band where the fixture pair actually collides (j ~ 0.9 pairs
    // agree on at least one of 16 bands w.p. 1 - 3e-8; which one is
    // fixture-determined, so compute it with the SAME batch formula)
    val pairBuckets = Seq(base, nearDup).toDF("text")
    val collidingBand = (0 until 16).find { b =>
      pairBuckets.select(StreamingDedup.bandBucket($"text", b).as("k"))
        .collect().map(_.getLong(0)).distinct.length == 1
    }
    assert(collidingBand.isDefined, "fixture pair should share at least one band")

    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-neardup").toString
    val q = StreamingDedup.nearDupVerdicts(
        stream.toDF().toDF("doc_id", "text"), threshold = 0.5,
        band = collidingBand.get)
      .writeStream.queryName("neardup_t").outputMode("update").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      stream.addData((1L, base))
      q.processAllAvailable()
      stream.addData(Seq((2L, nearDup), (3L, different))) // separate batch: state must persist
      q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.table("neardup_t")
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[Boolean]("near_dup"), Option(r.getAs[String]("dup_of")), r.getAs[Double]("jaccard")))
      .toMap
    assert(verdicts("1") === ((false, None, 0.0)), "first claimant is clean")
    val (dup2, of2, j2) = verdicts("2")
    assert(dup2, "cross-batch near-dup must be flagged")
    assert(of2 === Some("1"))
    assert(j2 >= 0.5 && j2 < 1.0)
    // the exact jaccard matches the batch refinement's value for this pair
    val batchJ = StreamingDedup.jaccardSorted(
      StreamingDedup.hashSet(base, 3), StreamingDedup.hashSet(nearDup, 3))
    assert(math.abs(j2 - batchJ) < 1e-12)
    val (dup3, of3, _) = verdicts("3")
    assert(!dup3 && of3.isEmpty, "unrelated doc passes (bucket differs or refinement rejects)")
  }

  test("multi-band near-dup: catches a j~0.9 pair that single-probe (band 0) provably misses") {
    // build a fixture pair that does NOT collide on band 0 (single-probe
    // would miss it, p ~ 0.34 per variant at j ~ 0.9) but does collide on
    // some band (p ~ 1 - 3e-8 over 16) — found deterministically by swapping
    // one word at a time through the SAME batch bucket formula
    val words = base.split(" ")
    def bucketsOf(t: String): Seq[Long] = {
      val df = Seq(t).toDF("text")
      (0 until 16).map(b =>
        df.select(StreamingDedup.bandBucket($"text", b).as("k")).head().getLong(0))
    }
    val baseBuckets = bucketsOf(base)
    val variant = words.indices.iterator.map { i =>
      words.updated(i, "swapped").mkString(" ")
    }.find { v =>
      val vb = bucketsOf(v)
      vb.head != baseBuckets.head && // band 0 misses: single-probe is blind
        vb.zip(baseBuckets).exists { case (a, b) => a == b } // some band hits
    }
    assert(variant.isDefined, "no one-word variant misses band 0 but hits another band")

    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-neardup-mb").toString
    val q = StreamingDedup.nearDupVerdictsMultiBand(
        stream.toDF().toDF("doc_id", "text"), threshold = 0.5)
      .writeStream.queryName("neardup_mb").outputMode("update").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      stream.addData((1L, base))
      q.processAllAvailable()
      // separate batch: every band's claimed state must persist
      stream.addData(Seq((2L, variant.get), (3L, different)))
      q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.table("neardup_mb")
      .collect().map(r => r.getAs[String]("id") ->
        (r.getAs[Boolean]("near_dup"), Option(r.getAs[String]("dup_of")), r.getAs[Double]("jaccard")))
      .toMap
    // exactly ONE verdict per doc despite 16 banded rows each
    assert(spark.table("neardup_mb").count() === 3)
    assert(verdicts("1") === ((false, None, 0.0)), "first claimant is clean in all bands")
    val (dup2, of2, j2) = verdicts("2")
    assert(dup2, "multi-band must catch the pair single-probe misses")
    assert(of2 === Some("1"))
    val batchJ = StreamingDedup.jaccardSorted(
      StreamingDedup.hashSet(base, 3), StreamingDedup.hashSet(variant.get, 3))
    assert(math.abs(j2 - batchJ) < 1e-12, "flag carries the exact batch-refinement jaccard")
    assert(j2 >= 0.5)
    val (dup3, of3, _) = verdicts("3")
    assert(!dup3 && of3.isEmpty)
  }

  test("streaming passage filter: cross-batch verbatim passage flagged, count matches batch pairs") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docA = s"first document preamble then $passage and an ending"
    val docB = s"totally unrelated opening where $passage appears verbatim too"
    val docC = "columnar engines vectorize expression evaluation across batches"

    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-passage").toString
    val q = StreamingDedup.passageVerdicts(
        stream.toDF().toDF("doc_id", "text"), minShared = 2)
      .writeStream.queryName("passage_t").outputMode("update").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      stream.addData((1L, docA))
      q.processAllAvailable()
      // separate batch: fingerprint claims must persist in state
      stream.addData(Seq((2L, docB), (3L, docC)))
      q.processAllAvailable()
      // third doc sharing the passage still attributes to the FIRST claimant
      stream.addData((4L, docB + " with an extra tail"))
      q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.table("passage_t")
      .collect().map(r => r.getAs[String]("id") ->
        ((r.getAs[Boolean]("flagged"), Option(r.getAs[String]("overlap_with")),
          r.getAs[Long]("shared_fp"))))
      .toMap
    assert(verdicts("1")._1 === false, "first claimant is clean")
    val (fb, ob, nb) = verdicts("2")
    assert(fb && ob === Some("1"), s"doc 2 must flag against doc 1: ${verdicts("2")}")
    // streamed shared-fingerprint count equals the batch pair operator's
    // n_shared_fp (no third claimant stole any window here)
    import spark.implicits._
    val batch = Dedup.sharedFingerprintPairs(
        Seq((1L, docA), (2L, docB)).toDF("doc_id", "text"), minShared = 1)
      .collect()
    assert(batch.length === 1)
    assert(nb === batch.head.getAs[Long]("n_shared_fp"),
      "streamed count must equal the batch pair count")
    assert(verdicts("3") === ((false, None, 0L)), "unrelated doc gets a clean verdict")
    val (f4, o4, _) = verdicts("4")
    assert(f4 && o4 === Some("1"),
      "later passage copies attribute to the first claimant, cross-batch")
  }

  // The TTL paths are the documented state bound at 100 TB (state holds one
  // owner per occupied bucket/fingerprint WITHIN THE DEDUP HORIZON, not
  // forever); these two tests execute the eviction they claim: a dup
  // arriving after the horizon is no longer flagged — recall honestly
  // traded — and the freed bucket/fingerprints are re-claimable.
  //
  // Harness note: each phase is a SEPARATE one-batch run against the same
  // checkpoint. A long-lived ProcessingTime(0) query in
  // TimeMode.ProcessingTime spins continuous empty micro-batches while the
  // test sleeps past the horizon (observed: ~12k stages before the hang was
  // killed) and processAllAvailable never settles — and even
  // Trigger.AvailableNow keeps scheduling those idle batches instead of
  // terminating (observed: 120 s await timeout per phase). Trigger.Once
  // runs EXACTLY one micro-batch (draining the phase's added rows) and
  // stops by construction; TTL expiry is evaluated on state READ, so the
  // next phase's run observes the eviction deterministically.

  /** Drain `stream`'s pending rows through `ds` in one Trigger.Once batch
    * against `ckpt`, returning this run's update-mode rows. foreachBatch,
    * not the memory sink: only fault-tolerant sinks may resume from an
    * existing checkpoint, and resuming is the whole point of the phase
    * structure. */
  private def runPhase[T](ds: => org.apache.spark.sql.Dataset[T],
      ckpt: String): Array[org.apache.spark.sql.Row] = {
    val buf = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val q = ds.toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Once())
      .start()
    try {
      val terminated = q.awaitTermination(120000)
      assert(terminated, "one-batch phase run must self-terminate")
    } finally q.stop()
    buf.synchronized { buf.toArray }
  }

  test("the bucket-owner state encoder compiles: no codegen failure with or without TTL") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.streaming.TTLConfig
    // a failed compile is logged at ERROR, then Spark silently falls back
    // to the interpreted path: the log is the only trace it leaves
    val codegen = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-failures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == codegen && e.getLevel.isMoreSpecificThan(Level.ERROR))
          failures.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      org.slf4j.LoggerFactory.getLogger(codegen).error("probe")
      assert(failures.asScala.toSeq === Seq("probe"), "the appender must see the code generator")
      failures.clear()

      graft.streaming.Pipelines.configureStateStore(spark)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      for (ttl <- Seq(TTLConfig.NONE, TTLConfig(java.time.Duration.ofSeconds(60)))) {
        val stream = MemoryStream[(Long, String)]
        val ckpt = java.nio.file.Files.createTempDirectory("ckpt-neardup-codegen").toString
        def phase() = runPhase(StreamingDedup.nearDupVerdicts(
          stream.toDF().toDF("doc_id", "text"), threshold = 0.5, band = 0, ttl = ttl), ckpt)
        stream.addData((1L, base))
        phase() // the claim writes the owner state
        stream.addData((2L, base))
        val second = phase() // the refinement reads it back
        assert(second.map(_.getAs[Boolean]("near_dup")).toSeq === Seq(true), s"ttl=$ttl")
      }
      assert(failures.isEmpty, failures.asScala.mkString("\n"))
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("TTL: a claimed LSH bucket evicts after the horizon; the bucket re-claims") {
    val pairBuckets = Seq(base, nearDup).toDF("text")
    val collidingBand = (0 until 16).find { b =>
      pairBuckets.select(StreamingDedup.bandBucket($"text", b).as("k"))
        .collect().map(_.getLong(0)).distinct.length == 1
    }
    assert(collidingBand.isDefined)

    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-neardup-ttl").toString
    // 60 s horizon: phases 1-2 run back-to-back well inside it; the sleep
    // before phase 3 uses a 65 s wall-clock gap — generous margins
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(60))
    def verdicts(phase: Int): Map[String, (Boolean, Option[String])] =
      runPhase(StreamingDedup.nearDupVerdicts(
          stream.toDF().toDF("doc_id", "text"), threshold = 0.5,
          band = collidingBand.get, ttl = ttl), ckpt)
        .map(r => r.getAs[String]("id") ->
          ((r.getAs[Boolean]("near_dup"), Option(r.getAs[String]("dup_of"))))).toMap

    stream.addData((1L, base))
    val p1 = verdicts(1)
    stream.addData((2L, nearDup)) // within TTL: the claim is alive
    val t2 = System.nanoTime()
    val p2 = verdicts(2)
    assert((System.nanoTime() - t2) / 1e9 < 55,
      "phase 2 must complete inside the horizon for p2's assertion to be meaningful")
    Thread.sleep(65000) // let the claim expire
    stream.addData((3L, nearDup)) // post-eviction: clean, re-claims
    val p3 = verdicts(3)
    stream.addData((4L, base)) // within the NEW claim's TTL: flagged vs 3
    val p4 = verdicts(4)

    assert(p1("1") === ((false, None)), "first claimant clean")
    assert(p2("2") === ((true, Some("1"))), "inside the horizon: flagged")
    assert(p3("3") === ((false, None)),
      "after the horizon the claim is GONE — dup passes (recall traded, state bounded)")
    assert(p4("4") === ((true, Some("3"))),
      "the freed bucket re-claims: later dups flag against the NEW owner")
  }

  test("TTL: fingerprint claims evict after the horizon; windows re-claim") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docA = s"first document preamble then $passage and an ending"
    val docB = s"totally unrelated opening where $passage appears verbatim too"

    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-passage-ttl").toString
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(60))
    def verdicts(phase: Int): Map[String, (Boolean, Option[String])] =
      runPhase(StreamingDedup.passageVerdicts(
          stream.toDF().toDF("doc_id", "text"), minShared = 2, ttl = ttl), ckpt)
        .map(r => r.getAs[String]("id") ->
          ((r.getAs[Boolean]("flagged"), Option(r.getAs[String]("overlap_with"))))).toMap

    stream.addData((1L, docA))
    val p1 = verdicts(1)
    Thread.sleep(65000) // doc 1's fingerprint claims expire
    stream.addData((2L, docB)) // post-eviction: clean, re-claims the windows
    val p2 = verdicts(2)
    stream.addData((3L, docB + " with an extra tail")) // within TTL: flags vs 2
    val p3 = verdicts(3)

    assert(p1("1") === ((false, None)))
    assert(p2("2") === ((false, None)),
      "after the horizon the shared passage no longer flags — claims evicted")
    assert(p3("3")._1 && p3("3")._2 === Some("2"),
      "evicted windows re-claim: the passage attributes to the NEW owner")
  }

  test("corpusGate: stream flagged against a static corpus, stateless across batches") {
    val corpus = Seq((100L, base), (101L, different)).toDF("doc_id", "text")
    graft.streaming.Pipelines.configureStateStore(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-corpusgate").toString
    val q = StreamingDedup.corpusGate(
        stream.toDF().toDF("doc_id", "text"), corpus, threshold = 0.5)
      .writeStream.queryName("corpusgate_t").outputMode("update").format("memory")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      stream.addData((1L, nearDup), (2L, "totally novel words nowhere in the corpus at all"))
      q.processAllAvailable()
      stream.addData(Seq((3L, nearDup))) // second batch: static corpus still matches
      q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.table("corpusgate_t")
      .collect().map(r => r.getAs[String]("id") ->
        (Option(r.getAs[String]("dup_of")), r.getAs[Double]("jaccard")))
      .toMap
    // only flagged docs are emitted: absence of doc 2 IS its acceptance
    assert(verdicts.keySet === Set("1", "3"))
    assert(verdicts("1")._1 === Some("100"))
    assert(verdicts("3")._1 === Some("100"),
      "a later batch matches the static corpus identically")
    // exact jaccard equals the batch refinement value, both batches
    val batchJ = StreamingDedup.jaccardSorted(
      StreamingDedup.hashSet(base, 3), StreamingDedup.hashSet(nearDup, 3))
    assert(math.abs(verdicts("1")._2 - batchJ) < 1e-6)
    assert(verdicts("1")._2 === verdicts("3")._2)
  }
}
