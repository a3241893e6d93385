package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** The one bucket join's lifecycle, for each of the seven candidate
  * generators, the two exact-substring span joins and the co-engagement
  * edges built on it: a call computes its band frame's rows once, and
  * leaves at most its returned checkpoint persisted. */
class BucketPairsSpec extends SparkSpec with CountedRows {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark joins partitions by key and shuffles rows between executors fast",
    "near duplicate detection bands minhash signatures into hashed buckets")

  // three templates, each with several near copies differing in one token
  private def docs(from: Long) = frame((0L until 24L).map { i =>
    (from + i, texts((i % 3).toInt) + s" tail${i / 12}")
  }, "doc_id", "text")

  private val sigs = frame((0L until 24L).map { i =>
    (i, ((i % 3) + 1) * 0x0101010101010101L ^ (1L << (i / 3 % 4)))
  }, "asset_id", "ahash")

  private val centers = Array(
    Array(5f, 0f, 0f, 1f, 0f, 0f, 2f, 0f),
    Array(0f, 5f, 1f, 0f, 0f, 3f, 0f, 0f),
    Array(0f, 0f, 0f, 2f, 5f, 0f, 0f, 1f))
  private val emb = frame((0L until 24L).map { i =>
    (i, centers((i % 3).toInt).map(_ + (i / 3 % 2) * 0.01f).toSeq)
  }, "vec_id", "embedding")

  // the gram frames of the same docs: even ids index, odd ids probe
  private val grams = Dedup.exactSubstrGrams(docs(0), minLen = 12)
  private val indexGrams = grams.filter($"id" % 2 === 0)
  private val probeGrams = grams.filter($"id" % 2 === 1)

  // three hot features with eight users each
  private val events = frame((0L until 24L).map(u => (u, s"""{"k":${u % 3}}""")),
    "user_id", "props")

  test("each generator fills its band frame once and leaves only its result persisted, " +
      "cap on, off and firing") {
    val sc = spark.sparkContext
    type Gen = (LongAccumulator, Int) => DataFrame
    // the span self-join materializes its result with the cap off too
    val alwaysMaterialized = Set("exactSubstrSpansFromGrams")
    val gens = Seq[(String, Long, Gen)](
      ("minhashCandidates", 24, (a, cap) =>
        Dedup.minhashCandidates(counted(docs(0), "text", a), maxBucket = cap)),
      ("crossCandidates", 48, (a, cap) =>
        Dedup.crossCandidates(counted(docs(0), "text", a), counted(docs(100), "text", a),
          maxBucket = cap)),
      ("sharedFingerprintPairs", 24, (a, cap) =>
        Dedup.sharedFingerprintPairs(counted(docs(0), "text", a), maxBucket = cap)),
      ("signatureHammingPairs", 24, (a, cap) =>
        Dedup.signatureHammingPairs(counted(sigs, "ahash", a), "asset_id", "ahash",
          maxBucket = cap, maxHamming = 2)),
      ("signatureHammingJoin", 24, (a, cap) =>
        Dedup.signatureHammingJoin(counted(sigs.filter($"asset_id" % 2 === 1), "ahash", a),
          counted(sigs.filter($"asset_id" % 2 === 0), "ahash", a), "asset_id", "ahash",
          maxBucket = cap, maxHamming = 2)),
      ("embeddingNearDups", 24, (a, cap) =>
        Similarity.embeddingNearDups(counted(emb, "embedding", a), threshold = 0.99,
          nPlanes = 2, dim = 8, maxBucket = cap)),
      ("semanticNearDups", 24, (a, cap) =>
        Similarity.semanticNearDups(counted(emb, "embedding", a), threshold = 0.99,
          centroids = centers, maxCell = cap)),
      ("exactSubstrSpansFromGrams", grams.count(), (a, cap) =>
        Dedup.exactSubstrSpansFromGrams(counted(grams, "gh", a), minLen = 12,
          maxBucket = cap)),
      ("exactSubstrSpansAgainstIndex", indexGrams.count(), (a, cap) =>
        Dedup.exactSubstrSpansAgainstIndex(counted(indexGrams, "gh", a), probeGrams,
          minLen = 12, maxBucket = cap)),
      ("coEngagementEdges", 24, (a, cap) =>
        Graph.coEngagementEdges(counted(events, "props", a), minShared = 1,
          maxUsersPerFeature = cap)))
    for ((op, rows, gen) <- gens; cap <- Seq(0, Dedup.DefaultMaxBucket, 2)) {
      val acc = sc.longAccumulator(s"$op-$cap")
      val before = sc.getPersistentRDDs.keySet
      val out = gen(acc, cap)
      val got = out.collect()
      val kept = sc.getPersistentRDDs.keySet -- before
      assert(got.nonEmpty, s"$op cap $cap: no pairs")
      assert(acc.value === rows, s"$op cap $cap: band rows computed ${acc.value} times")
      // the returned checkpoint when the cap is on; nothing when it is off
      val result = if (cap > 0 || alwaysMaterialized(op)) 1 else 0
      assert(kept.size === result, s"$op cap $cap: ${kept.size} RDDs left")
      kept.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
    }
  }
}
