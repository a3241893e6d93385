package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** The one materialization scope: each shared frame is computed once per
  * call with no fill job of its own, and no cached frame outlives the
  * call, also when its body throws. */
class MaterializeSpec extends SparkSpec with CountedRows {
  import spark.implicits._

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark joins partitions by key and shuffles rows between executors fast",
    "near duplicate detection bands minhash signatures into hashed buckets")

  // three templates, each copied eight times with a distinct tail; every
  // text repeats its template, so each doc also has internal repeats
  private val docs = frame((0L until 24L).map { i =>
    val t = texts((i % 3).toInt)
    (i, s"$t $t tail$i")
  }, "doc_id", "text")

  // 12 three-frame assets in three groups; members of a group differ in
  // one bit per frame
  private val frames = frame(for {
    a <- 0L until 12L
    f <- 0L until 3L
  } yield (a, f, 3, ((a % 3) + 1) * 0x0101010101010101L * (f + 1) ^ (1L << (a / 3))),
    "asset_id", "frame_no", "n_frames", "ahash")

  test("exactSubstrSpans, selfRepeatSpans and frameSequencePairs compute each " +
      "input row once and leave no cached frame") {
    val sc = spark.sparkContext
    // the gram frame itself as the counted input: no exchange sits between
    // it and its cache, so a second computation of any gram row shows
    val grams = Dedup.exactSubstrGrams(docs, minLen = 12)
    val nGrams = grams.count()
    val ops = Seq[(String, Long, LongAccumulator => DataFrame)](
      ("exactSubstrSpans", 24, a =>
        Dedup.exactSubstrSpans(counted(docs, "text", a), minLen = 12)),
      ("exactSubstrSpansFromGrams", nGrams, a =>
        Dedup.exactSubstrSpansFromGrams(counted(grams, "gh", a), minLen = 12)),
      ("exactSubstrSpansFromGrams cap 3", nGrams, a =>
        Dedup.exactSubstrSpansFromGrams(counted(grams, "gh", a), minLen = 12, maxBucket = 3)),
      ("selfRepeatSpans", 24, a =>
        Dedup.selfRepeatSpans(counted(docs, "text", a), minLen = 12)),
      ("frameSequencePairs", 36, a =>
        Dedup.frameSequencePairs(counted(frames, "ahash", a), maxHamming = 2)),
      ("frameSequencePairs cap 2", 36, a =>
        Dedup.frameSequencePairs(counted(frames, "ahash", a), maxBucket = 2, maxHamming = 2)))
    for ((op, rows, run) <- ops) {
      val acc = sc.longAccumulator(op)
      val out = run(acc)
      assert(cacheEmpty, s"$op: a cached frame outlived the call")
      assert(out.collect().nonEmpty, s"$op: no rows")
      assert(acc.value === rows, s"$op: input rows computed ${acc.value} times")
    }
  }

  test("a body that throws leaves no cached frame") {
    val boom = udf((x: Long) => { if (x != Long.MinValue) sys.error("bad frame"); x })
    intercept[Exception] {
      Dedup.frameSequencePairs(frames.withColumn("ahash", boom($"ahash")), maxHamming = 2)
    }
    assert(cacheEmpty, "the signature table stayed cached after the body threw")
  }

  test("a nested scope's result is returned as it is; an enclosing scope's " +
      "frame stays cached until that scope ends") {
    val sc = spark.sparkContext
    val outer = docs.select($"doc_id", length($"text").as("n"))
    val inner = outer.filter($"n" > 0)
    val before = sc.getPersistentRDDs.keySet
    val out = Materialize.shared(outer) {
      val r = Materialize.shared(outer, inner)(inner.groupBy().count())
      assert(outer.storageLevel.useMemory, "the inner scope released the outer frame")
      r
    }
    assert(out.collect().head.getLong(0) === 24L)
    assert(cacheEmpty)
    assert((sc.getPersistentRDDs.keySet -- before).size === 1,
      "the nested result was checkpointed again")
    // a materialized frame is shared as it is, never cached
    Materialize.shared(out) {
      assert(cacheEmpty, "a checkpointed frame was cached again")
      out.select($"count" + 1)
    }
  }
}
