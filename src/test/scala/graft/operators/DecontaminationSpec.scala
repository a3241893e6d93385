package graft.operators

import graft.SparkSpec

/** Contracts for the eval-overlap decontamination operator: exact overlap
  * counts on a crafted fixture, distinctness of the counted grams, and the
  * no-corpus-shuffle broadcast plan shape. */
class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  // Eval doc grams (n=3): {"q w e", "w e r"}
  private val evalDocs = Seq((100L, "q w e r")).toDF("doc_id", "text")

  private val corpus = Seq(
    // shares both eval grams (and repeats one — must still count once)
    (1L, "q w e r q w e"),
    // shares exactly one
    (2L, "z z w e r"),
    // shares none
    (3L, "a b c d"),
    // too short for any gram
    (4L, "q w")
  ).toDF("doc_id", "text")

  test("overlap: distinct shared-gram counts; clean docs absent") {
    val got = Decontamination.overlap(corpus, evalDocs, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared"))
      .toMap
    assert(got === Map(1L -> 2L, 2L -> 1L),
      "doc 1 shares both grams (each once, despite repetition), doc 2 one, docs 3/4 none")
  }

  test("overlap broadcasts the eval gram set (corpus side never shuffles for the join)") {
    val plan = Decontamination.overlap(corpus, evalDocs, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval side must broadcast:\n$plan")
  }

  test("overlap against an empty eval set flags nothing") {
    val got = Decontamination.overlap(corpus, evalDocs.filter($"doc_id" < 0), n = 3)
    assert(got.count() === 0L)
  }

  test("clean = corpus minus flagged docs (complement of overlap)") {
    val kept = Decontamination.clean(corpus, evalDocs, n = 3)
      .collect().map(_.getLong(0)).toSet
    val flagged = Decontamination.overlap(corpus, evalDocs, n = 3)
      .collect().map(_.getLong(0)).toSet
    val all = corpus.collect().map(_.getLong(0)).toSet
    assert(kept === all -- flagged)
    assert(kept === Set(3L, 4L), "docs sharing eval grams are gone; clean and short docs stay")
  }

  test("report: per-eval-doc leak accounting (grams, tainted docs, fraction)") {
    val evals = Seq(
      (100L, "q w e r"),   // grams {"q w e","w e r"}: both leak (docs 1, 2)
      (200L, "m n o p")    // grams {"m n o","n o p"}: nothing leaks
    ).toDF("doc_id", "text")
    val got = Decontamination.report(corpus, evals)
      .collect().map(r => r.getAs[Long]("eval_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_leaked_grams"),
          r.getAs[Long]("n_tainted_docs"), r.getAs[Double]("leak_frac"))))
      .toMap
    // eval 100: doc 1 carries both grams, doc 2 carries "w e r" only ->
    // 2 leaked grams across 2 tainted docs, fraction 1.0
    assert(got(100L) === ((2L, 2L, 2L, 1.0)))
    // eval 200: clean eval item — zeros survive the left join
    assert(got(200L) === ((2L, 0L, 0L, 0.0)))
    assert(got.size === 2, "one row per eval doc, leaked or not")
  }

  test("hashed-gram form matches the string form (fixture corpus + crafted docs)") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(asMap(Decontamination.overlap(corpus, evalDocs, n = 3, hashGrams = true)) ===
      asMap(Decontamination.overlap(corpus, evalDocs, n = 3)))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val ev = docs.filter($"doc_id" % 97 === 0)
    val tr = docs.filter($"doc_id" % 97 =!= 0)
    assert(asMap(Decontamination.overlap(tr, ev, hashGrams = true)) ===
      asMap(Decontamination.overlap(tr, ev)),
      "hashed and string grams must agree on the real corpus")
  }

  test("gate: per-row verdicts match overlap, both gram forms, empties covered") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shared"), r.getAs[Boolean]("flagged")))).toMap
    for (hashed <- Seq(true, false)) {
      val got = asMap(Decontamination.gate(corpus, evalDocs, hashGrams = hashed))
      // one row per doc (unlike overlap's flagged-only frame), same counts
      assert(got === Map(1L -> ((2L, true)), 2L -> ((1L, true)),
        3L -> ((0L, false)), 4L -> ((0L, false))), s"hashGrams=$hashed")
    }
    // minShared raises the bar
    val strict = asMap(Decontamination.gate(corpus, evalDocs, minShared = 2))
    assert(strict(1L)._2 && !strict(2L)._2)
    // real corpus: gate's count column == overlap's for every flagged doc
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val ev = docs.filter($"doc_id" % 97 === 0)
    val tr = docs.filter($"doc_id" % 97 =!= 0)
    val fromGate = Decontamination.gate(tr, ev)
      .filter($"flagged").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    val fromOverlap = Decontamination.overlap(tr, ev, hashGrams = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(fromGate === fromOverlap)
  }

  test("gate is a stateless STREAMING ingest filter (append mode, cross-batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(Long, String)]
    val q = Decontamination.gate(stream.toDF().toDF("doc_id", "text"), evalDocs)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append")
      .start()
    try {
      stream.addData((1L, "q w e r q w e"), (3L, "a b c d"))
      q.processAllAvailable()
      stream.addData((2L, "z z w e r"), (4L, "q w"))
      q.processAllAvailable()
      val got = spark.table("gate_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_shared"), r.getAs[Boolean]("flagged")))).toMap
      assert(got === Map(1L -> ((2L, true)), 2L -> ((1L, true)),
        3L -> ((0L, false)), 4L -> ((0L, false))),
        "streamed verdicts == batch verdicts, across micro-batches, no state")
    } finally q.stop()
  }

  // fuzzy fixture: an exact copy (jaccard 1.0), a one-word paraphrase
  // (6 shared of 8 distinct shingles -> 0.75), and a clean doc
  private val fuzzyEval =
    Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
  private val fuzzyCorpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely unrelated words about other things entirely")
  ).toDF("doc_id", "text")

  test("fuzzyHits: batch pairs == crossNearDups; jaccard values exact") {
    val got = Decontamination.fuzzyHits(fuzzyCorpus, fuzzyEval).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 100L, 1.0), (2L, 100L, 0.75)))
    val cross = Dedup.crossNearDups(fuzzyCorpus, fuzzyEval, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === cross,
      "streaming-safe form must find exactly the batch operator's pairs")
  }

  test("fuzzyHits runs STATELESS on a stream against a static eval set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val hits = Decontamination.fuzzyHits(
      stream.toDF().toDF("doc_id", "text"), fuzzyEval)
    val q = hits.writeStream.format("memory").queryName("fuzzy_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely unrelated words about other things entirely"))
      q.processAllAvailable()
      stream.addData((2L, "the quick brown fox jumps over the lazy cat"))
      q.processAllAvailable()
      // multi-band matches emit at-least-once evidence rows -> set-compare
      val got = spark.table("fuzzy_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((1L, 100L, 1.0), (2L, 100L, 0.75)),
        "hits across micro-batches; no watermark, no state store")
      // and the plan is genuinely stateless: no stateful operator ran
      assert(q.lastProgress.stateOperators.isEmpty,
        "fuzzyHits must not create streaming state")
    } finally q.stop()
  }

  // exact-span gate fixture: doc 1 contains eval 200's 12-char span
  // verbatim, doc 2 contains 11 chars of it (below threshold), doc 3 is
  // clean — existence must be EXACT at the minLen boundary
  private val spanEval = Seq((200L, "x" * 3 + "EVAL_SPAN_12" + "y" * 3))
    .toDF("doc_id", "text")
  private val spanCorpus = Seq(
    (1L, "a" * 10 + "EVAL_SPAN_12" + "b" * 10),
    (2L, "c" * 10 + "EVAL_SPAN_1" + "d" * 10),
    (3L, "completely clean text with nothing shared here")
  ).toDF("doc_id", "text")

  test("substrHits: exact verbatim-span existence at the minLen boundary, " +
      "equal to the span operator's pair set") {
    val got = Decontamination.substrHits(spanCorpus, spanEval, minLen = 12)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 200L)))
    // existence == the exact span operator's (index, probe) pair set
    val viaSpans = Dedup.exactSubstrSpansAgainstIndex(
        Dedup.exactSubstrGrams(spanEval, 12), Dedup.exactSubstrGrams(spanCorpus, 12),
        minLen = 12).select("probe_id", "index_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === viaSpans)
  }

  test("substrHits runs STATELESS on a stream against a static eval set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val hits = Decontamination.substrHits(
      stream.toDF().toDF("doc_id", "text"), spanEval, minLen = 12)
    val q = hits.writeStream.format("memory").queryName("substr_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, "a" * 10 + "EVAL_SPAN_12" + "b" * 10), (3L, "clean"))
      q.processAllAvailable()
      stream.addData((2L, "c" * 10 + "EVAL_SPAN_1" + "d" * 10),
        (5L, "zzz" + "EVAL_SPAN_12"))
      q.processAllAvailable()
      val got = spark.table("substr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 200L), (5L, 200L)),
        "hits across micro-batches; minLen boundary enforced")
      assert(q.lastProgress.stateOperators.isEmpty,
        "substrHits must not create streaming state")
      // stream == batch (r15 verdict #6): the streamed verdicts over all
      // micro-batches must equal one batch substrHits run over the union
      // of everything streamed — the statelessness claim is exactly that
      // batch re-partitioning into micro-batches cannot change the answer.
      val allStreamed = Seq(
        (1L, "a" * 10 + "EVAL_SPAN_12" + "b" * 10), (3L, "clean"),
        (2L, "c" * 10 + "EVAL_SPAN_1" + "d" * 10),
        (5L, "zzz" + "EVAL_SPAN_12")).toDF("doc_id", "text")
      val batchGot = Decontamination.substrHits(allStreamed, spanEval,
          minLen = 12).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batchGot, "stream verdicts == batch substrHits verdicts")
    } finally q.stop()
  }
}
