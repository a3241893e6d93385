package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.{ReferenceForms, SparkSpec}
import graft.tools.PlanSnap
import graft.tools.PlanSnap.planNodes

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again " * 5
  private val nearDup = base.replace("lazy", "sleepy") // one token differs
  private val different = "completely unrelated content about distributed sql engines " * 5

  private def docs = Seq(
    (1L, base), (2L, base.toUpperCase), // exact dups modulo case
    (3L, nearDup), (4L, different)
  ).toDF("doc_id", "text")

  private def executedPlans(f: => Unit): Seq[SparkPlan] = PlanSnap.executedPlans(spark)(f)

  test("batch self-dedup operators spread their input once below the kernel; " +
      "the table builders stay map-only") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val d = docs.coalesce(1)
    def pinned(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
      plans.flatMap(planNodes).collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.groupBy(_.canonicalized).values.map(_.head).toSeq
    def calls(node: SparkPlan, kernel: String): Boolean =
      node.expressions.exists(_.find(_.prettyName == kernel).isDefined)
    Seq[(String, String, () => Unit)](
      ("minhashCandidates", "word_shingle_hashes",
        () => Dedup.minhashCandidates(d).collect()),
      ("sharedFingerprintPairs", "char_gram_hashes",
        () => Dedup.sharedFingerprintPairs(d).collect()),
      ("exactSubstrSpans", "char_gram_hashes",
        () => Dedup.exactSubstrSpans(d).collect()),
      ("selfRepeatSpans", "char_gram_hashes",
        () => Dedup.selfRepeatSpans(d).collect()),
      ("simhashCandidates", "simhash64",
        () => Dedup.simhashCandidates(d).collect()),
      ("containmentPairs", "word_shingles",
        () => Dedup.containmentPairs(d).collect())
    ).foreach { case (op, kernel, run) =>
      val plans = executedPlans(run())
      val spreads = pinned(plans)
      assert(spreads.map(_.numPartitions) === Seq(width), op)
      val spread = spreads.head
      assert(!planNodes(spread).exists(calls(_, kernel)), s"$op: $kernel below the spread")
      assert(plans.flatMap(planNodes).exists(n => calls(n, kernel) &&
          planNodes(n).exists(_.canonicalized == spread.canonicalized)),
        s"$op: no $kernel above the spread")
    }
    Seq[(String, () => Unit)](
      ("minhashSignatureTable", () => Dedup.minhashSignatureTable(d).collect()),
      ("simhashTable", () => Dedup.simhashTable(d).collect()),
      ("winnowingFingerprintTable", () => Dedup.winnowingFingerprintTable(d).collect()),
      ("exactSubstrGrams", () => Dedup.exactSubstrGrams(d).collect()),
      ("bm25TopK", () => Retrieval.bm25TopK(d).collect())
    ).foreach { case (op, run) => assert(pinned(executedPlans(run())).isEmpty, op) }
  }

  test("exact dedup groups case/punct-identical docs, keeps min id canonical") {
    val rows = Dedup.exact(docs).collect()
    assert(rows.length == 3)
    val grp = rows.find(_.getAs[Long]("dup_count") == 2L).get
    assert(grp.getAs[Long]("canonical_id") == 1L)
  }

  test("minhash signature: identical docs identical, near-dups mostly agree") {
    val sigs = docs.select($"doc_id", Dedup.minhashSignature($"text", k = 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getAs[collection.Seq[Long]]("sig")).toMap
    assert(sigs(1L) == sigs(1L))
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > 16, s"near-dup agreement $agree13/32 should be high")
    assert(agree14 < 8, s"unrelated agreement $agree14/32 should be low")
  }

  test("minhash LSH candidates include the near-dup pair, not the unrelated one") {
    val pairs = Dedup.minhashCandidates(docs) // production defaults k=64/b=16/r=4
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), s"expected (1,3) in $pairs")
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
  }

  test("minhashNearDups refines with exact jaccard threshold") {
    val nd = Dedup.minhashNearDups(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.contains((1L, 3L)))
    assert(nd.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L, 3L)) })
  }

  test("r=4 banding still catches j~0.9 SHORT docs (the k=16/r=4 regression case)") {
    // ~19 distinct 3-shingles, one token changed at the end -> jaccard ~ 0.9;
    // with only ~19 shingles each signature slot has high variance, which is
    // what sank k=16/r=4 in round 2. k=64/b=16 gives 16 independent 4-row
    // band chances: idealized miss probability (1-0.9^4)^16 ~= 3e-8.
    val short1 = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform"
    val short2 = short1.replace("uniform", "victor")
    val d = Seq((10L, short1), (11L, short2)).toDF("doc_id", "text")
    val j = d.as("a").crossJoin(d.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select(graft.functions.TextFunctions.jaccard(
        graft.functions.TextFunctions.distinctShingles($"a.text", 3),
        graft.functions.TextFunctions.distinctShingles($"b.text", 3)).as("j"))
      .head().getDouble(0)
    assert(j >= 0.85 && j < 1.0, s"fixture jaccard $j should be ~0.9")
    val pairs = Dedup.minhashCandidates(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"short-doc near-dup pair missed: $pairs")
  }

  test("ensembleNearDups covers both generators' blind spots (union semantics)") {
    // the long-doc fixture (caught by both paths) plus a short j~0.9 pair
    // (high signature variance — the regime where single generators miss)
    val short1 = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform"
    val d = docs.union(Seq(
      (10L, short1), (11L, short1.replace("uniform", "victor"))).toDF("doc_id", "text"))
    val ens = Dedup.ensembleNearDups(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDups(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashNearDups(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((mh | sh).subsetOf(ens), "ensemble must contain the union of both paths")
    assert(ens.contains((1L, 3L)) && ens.contains((10L, 11L)))
  }

  test("simhashNearDups' guarantee is hamming-bounded: pairs within blocks-1 are found") {
    // simhashNearDups promises capture for fingerprint drift <= blocks-1
    // (pigeonhole); jaccard-threshold completeness beyond that needs the
    // ensemble (see sf0.001: hamming 9 at j=0.889 on ~10-token docs).
    val sims = Dedup.simhashTable(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = Dedup.simhashNearDups(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sims(a) ^ sims(b))
    // fixture truth: (1,3) is a j>=0.5 pair; its hamming is within the bound
    assert(ham(1L, 3L) <= 5, s"fixture drifted: hamming ${ham(1L, 3L)}")
    assert(found.contains((1L, 3L)))
  }

  test("bucket occupancy cap: 10k identical docs stay near-linear, drops observable, cap-off unbounded") {
    // the degenerate-bucket pathology: byte-identical boilerplate -> one
    // signature -> every doc lands in the SAME (band, bucket) in all 16
    // bands. Uncapped, the within-bucket self-join is C(10000,2) ~ 5e7
    // pairs; with the cap each band contributes pairs over only the cap
    // first ids, so the candidate set is C(cap,2) — independent of m.
    val boiler = "subscribe to our newsletter terms privacy copyright notice"
    val n = 10000
    val cap = 32
    val d = (1 to n).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(d, maxBucket = cap).collect()
    assert(cands.length === cap * (cap - 1) / 2,
      s"expected C($cap,2)=${cap * (cap - 1) / 2} capped candidates, got ${cands.length}")
    // identical docs -> identical id ordering per band -> the retained
    // members are the cap smallest ids in every band
    val ids = cands.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(ids === (1 to cap).map(_.toLong).toSet)

    // drop accounting is observable, not silent: per band, m - cap rows drop
    val sig = Dedup.minhashSignatureTable(d, k = 64)
    val banded = sig.select($"id", posexplode(array((0 until 16).map { b =>
      xxhash64((lit(b) +: (0 until 4).map(r => element_at($"sig", b * 4 + r + 1))): _*)
    }: _*)).as(Seq("band", "bucket")))
    val stats = Dedup.bucketCapStats(banded, Seq("band", "bucket"), cap)
    assert(stats === Dedup.BucketCapStats(16L * (n - cap), 16L))

    // cap <= 0 disables (exercised on a size where O(m^2) is still cheap)
    val small = (1 to 100).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(small, maxBucket = 0).count() === 100L * 99 / 2)
    // and the default cap never fires on healthy fixtures (same result)
    assert(Dedup.minhashCandidates(small).count() === 100L * 99 / 2)

    // simhash: the cap is OPT-IN (block buckets fill by background
    // collision, so a default cap would cut guaranteed pairs on normal
    // corpora) — identical docs share every block, so uncapped is all
    // pairs; an explicit cap bounds it the same way as minhash
    assert(Dedup.simhashCandidates(small, blocks = 6).count() === 100L * 99 / 2)
    assert(Dedup.simhashCandidates(small, blocks = 6, maxBucket = cap).count()
      === cap.toLong * (cap - 1) / 2)
  }

  test("nearDupClusters: chains collapse, components labeled by minimum, long paths converge") {
    import spark.implicits._
    // component {1,2,3,9} via chain 1-2, 2-3, 3-9; component {5,7}; and a
    // LONG PATH 100-101-...-140 (diameter 40 > plain-propagation round
    // budget intuition — pointer jumping must cover it in O(log) rounds)
    val chain = (100L until 140L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L)) ++ chain)
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L && got(9L) === 1L)
    assert(got(5L) === 5L && got(7L) === 5L)
    (100L to 140L).foreach(i => assert(got(i) === 100L, s"node $i"))
    assert(got.size === 4 + 2 + 41, "exactly the pair members, no extras")
    // orientation-independence: reversed pairs give the same clusters
    val rev = Dedup.nearDupClusters(
      pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev === got)
    // empty pair set -> empty clustering (no crash)
    assert(Dedup.nearDupClusters(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().isEmpty)
    // self-pairs: a doc paired only with itself is its own cluster
    def clusters[T](pairs: Seq[(T, T)])(implicit enc: org.apache.spark.sql.Encoder[(T, T)]) =
      Dedup.nearDupClusters(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.get(0) -> r.get(1)).toMap
    assert(clusters(Seq((1L, 1L), (2L, 3L), (3L, 3L), (4L, 4L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
    // string ids take Spark SQL's (UTF-8 byte) min: U+FF21 sorts below
    // U+1F600, though its UTF-16 unit sorts above the surrogate pair
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    assert(clusters(Seq((emoji, fw), ("b", "a"), ("c", "b"), ("z", "y"))) ===
      Map(emoji -> fw, fw -> fw, "a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
    // a null id joins nothing (it never passes a label on) but takes its
    // partners' min; binary ids are refused
    assert(clusters(Seq[(java.lang.Long, java.lang.Long)]((1L, null), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, (null: Any) -> 1L))
    intercept[IllegalArgumentException](Dedup.nearDupClusters(
      Seq((Array[Byte](1), Array[Byte](2))).toDF("id_a", "id_b")))
  }

  test("a CC query repeats its job count and exchange ledger exactly") {
    // the CC rounds plan no SQL join, so no runtime join choice can make
    // two runs of the same query execute different exchanges or jobs
    val q = graft.SparkEntry.catalog.find(_.name == "q59_deduped_corpus").get
    def run() = {
      var ledger = Seq.empty[String]
      val n = jobs {
        ledger = PlanSnap.exchangeLedger(executedPlans(
          q.fn(spark, sf001).write.format("noop").mode("overwrite").save()))
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (n, ledger)
    }
    run() // warm-up: a JVM's first read of a fixture table infers its schema
    val first = run()
    assert(run() === first)
  }

  test("winnowing fingerprints: shared >= w+k-1 substrings guarantee overlap; short docs handled") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val d = Seq(
      (1L, s"PREFIX alpha beta $shared SUFFIX gamma"),
      (2L, s"other start entirely $shared different ending text"),
      (3L, "completely disjoint content about columnar query engines and shuffles"),
      (4L, "tiny"), // < k chars after normalization -> no grams
      (5L, "elevenchars") // k <= grams < w -> single whole-doc fingerprint
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowingFingerprintTable(d, k = 8, w = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1).toSet, r.getInt(2))).toMap
    // determinism + the winnowing guarantee on the shared substring
    assert((fp(1L)._1 & fp(2L)._1).nonEmpty,
      "docs sharing a long substring must share at least one fingerprint")
    assert((fp(1L)._1 & fp(3L)._1).isEmpty, "disjoint docs should not collide")
    assert(fp(4L)._1.isEmpty && fp(4L)._2 === 0)
    assert(fp(5L)._1.size === 1, "sub-window doc keeps its whole-doc min")
    // identical docs -> identical sets
    val again = Dedup.winnowingFingerprintTable(d, k = 8, w = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(again(1L) === fp(1L)._1)
  }

  test("winnowing: native SlidingMin kernel is bit-identical to the HOF form") {
    // covers all three size regimes (n >= w, 0 < n < w, n == 0) plus the
    // real corpus-shaped fixtures, and both non-default widths
    val d = (Seq(
      (10L, "the quick brown fox jumps over the lazy dog repeatedly tonight"),
      (11L, "tiny"),
      (12L, "elevenchars"),
      (13L, ""),
      (14L, "aaaaaaaaaaaaaaaaaaaaaaaa"), // constant grams -> heavy dedup
      (15L, "abcdefghija bcdefghijab cdefghijabc defghijabcd")
    ) ++ Seq(base, nearDup, different).zipWithIndex.map {
      case (txt, i) => (20L + i, txt)
    }).toDF("doc_id", "text")
    for (w <- Seq(4, 8, 13)) {
      val native = Dedup.winnowingFingerprintTable(d, k = 8, w = w)
        .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getInt(2))).toMap
      val hof = ReferenceForms.winnowingFingerprintTable(d, k = 8, w = w)
        .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getInt(2))).toMap
      assert(native === hof, s"native/HOF divergence at w=$w")
    }
  }

  test("SlidingMin rejects arrays whose element type may contain nulls at analysis time") {
    import org.apache.spark.sql.functions.{array, lit, when, col}
    val d = Seq((1L, 5L)).toDF("doc_id", "v")
    // when() without otherwise yields a nullable element -> containsNull=true
    val nullable = d.select(array(when(col("v") > 0, col("v"))).as("a"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(
        org.apache.spark.sql.graft.ArrayExpressions.slidingMin(col("a"), 2)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("null"))
    // non-null element type still works
    val ok = d.select(array(lit(3L), lit(1L), lit(2L)).as("a"))
      .select(org.apache.spark.sql.graft.ArrayExpressions.slidingMin(col("a"), 2).as("m"))
      .collect().head.getSeq[Long](0)
    assert(ok === Seq(1L, 1L))
  }

  test("charGramHashes: native kernel is bit-identical to the HOF form, incl. multibyte") {
    import org.apache.spark.sql.functions.{length => slen, sequence, transform, when, xxhash64, lit, array, col}
    // raw strings (no normalization) so multibyte char->byte offset mapping
    // is actually exercised: 2-byte (é), 3-byte (CJK), 4-byte (emoji)
    val d = Seq(
      (1L, "plain ascii gram content"),
      (2L, "café naïve résumé touché encore"),
      (3L, "漢字混合 ascii とかな mixed content"),
      (4L, "emoji 😀😁😂 four byte chars"),
      (5L, "short"), // < k chars -> empty
      (6L, "")
    ).toDF("doc_id", "text")
    for (k <- Seq(3, 8)) {
      val native = d.select($"doc_id",
        org.apache.spark.sql.graft.ArrayExpressions.charGramHashes($"text", k).as("gh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = d.select($"doc_id",
        when(slen($"text") >= k,
          transform(sequence(lit(1), slen($"text") - (k - 1)),
            i => xxhash64(col("text").substr(i, lit(k)))))
          .otherwise(array().cast("array<bigint>")).as("gh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native === hof, s"native/HOF gram divergence at k=$k")
    }
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    val sims = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(3L)) < 12,
      s"near-dup hamming ${ham(sims(1L), sims(3L))}")
    assert(ham(sims(1L), sims(4L)) > 20,
      s"unrelated hamming ${ham(sims(1L), sims(4L))}")
  }

  test("mergeClusters == full re-cluster, including a batch doc bridging two old clusters") {
    import spark.implicits._
    // old graph: {1,2,3} (label 1) and {10,11} (label 10); batch doc 100
    // pairs with 3 AND 10 -> everything must merge into one component
    // labeled 1; batch pair (200, 201) forms a brand-new cluster 200
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val oldLabels = Dedup.nearDupClusters(oldPairs)
    val newPairs = Seq((3L, 100L), (10L, 100L), (200L, 201L)).toDF("id_a", "id_b")
    val merged = Dedup.mergeClusters(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.nearDupClusters(oldPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === full)
    assert(merged(100L) === 1L && merged(11L) === 1L && merged(201L) === 200L)
  }

  test("simhashTable (native kernel) == per-row simhash Column form, incl. edges") {
    // fixture docs + the tokenizer edge cases the kernel must replicate:
    // empty, whitespace-only, single token, multibyte, repeated tokens
    // (frequency weighting), leading/trailing whitespace quirks
    val edge = Seq((100L, ""), (101L, "   "), (102L, "one"),
      (103L, "héllo wörld héllo"), (104L, "  padded  tokens  "),
      (105L, "a a a a b")).toDF("doc_id", "text")
    val both = docs.select($"doc_id", $"text").unionByName(edge)
    val colForm = both.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tbl = Dedup.simhashTable(both)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tbl === colForm)
  }

  test("SimHash64 kernel property: parity with the Column form over random unicode corpora") {
    import spark.implicits._
    // seeded random docs mixing ascii, multibyte, exotic whitespace, and
    // repetition — the fixture table can't cover the tokenizer's corners
    val pieces = Vector("word", "héllo", "日本語", "a", "??", "x y",
      "tab\tsep", "dots...", "", "  ", "ümlaut", " line")
    val rnd = new scala.util.Random(20260813L)
    val docs2 = (0L until 300L).map { i =>
      val n = rnd.nextInt(12)
      i -> Seq.fill(n)(pieces(rnd.nextInt(pieces.size))).mkString(" ")
    }.toDF("doc_id", "text")
    val colForm = docs2.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = Dedup.simhashTable(docs2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === colForm)
  }

  test("simhashTable folds NULL text to fingerprint 0 (explode_outer parity)") {
    val withNull = Seq((200L, Option.empty[String]), (201L, Some("some text here")))
      .toDF("doc_id", "text")
    val tbl = Dedup.simhashTable(withNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tbl(200L) === 0L)
    assert(tbl(201L) !== 0L)
  }

  test("simhash candidates carry hamming distance for pairs sharing a block") {
    val cands = Dedup.simhashCandidates(docs)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming"))).toMap
    assert(cands.contains((1L, 3L)))
    assert(cands((1L, 3L)) < 12)
  }

  test("minhashSignatureTable == per-row minhashSignature (scale form parity)") {
    val col = docs.select($"doc_id".as("id"),
      Dedup.minhashSignature($"text", k = 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val tbl = Dedup.minhashSignatureTable(docs, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tbl === col)
  }

  test("minhashSignature: native kernel is bit-identical to the HOF form, incl. null docs") {
    val d = (Seq((1L, Some("a b c d e f")), (2L, Some("")), (3L, None),
      (4L, Some("\t\t")), (5L, Some("café naïve résumé touché encore"))) ++
      Seq(base, nearDup, different).zipWithIndex.map { case (t, i) => (10L + i, Some(t)) })
      .toDF("doc_id", "text")
    for (k <- Seq(4, 16)) {
      val native = d.select($"doc_id", Dedup.minhashSignature($"text", k).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = d.select($"doc_id", ReferenceForms.minhashSignature($"text", k).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native === hof, s"native/HOF signature divergence at k=$k")
    }
  }

  test("simhashTable == per-row simhash (scale form parity)") {
    val col = docs.select($"doc_id".as("id"), Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tbl = Dedup.simhashTable(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tbl === col)
  }

  test("empty/short docs get the MaxValue signature in both forms") {
    val d = Seq((1L, ""), (2L, "one two"), (3L, "a b c d")).toDF("doc_id", "text")
    val tbl = Dedup.minhashSignatureTable(d, k = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val col = d.select($"doc_id", Dedup.minhashSignature($"text", k = 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tbl === col)
    assert(tbl(1L).forall(_ == Long.MaxValue)) // no 3-shingles
    assert(tbl(2L).forall(_ == Long.MaxValue))
  }

  test("determinism: signatures identical across independent evaluations") {
    val a = docs.select(Dedup.minhashSignature($"text", 8).as("s")).collect().toSeq
    val b = docs.repartition(3).select(Dedup.minhashSignature($"text", 8).as("s"))
      .collect().toSeq
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
  }

  test("sharedFingerprintPairs: planted verbatim passage found, unrelated docs absent") {
    val passage = "the quick brown fox jumps over the lazy dog"
    val planted = Seq(
      (1L, s"opening words then $passage and a tail"),
      (2L, s"a completely different preamble yet $passage closes it"),
      (3L, "nothing in common with anybody else at all zebra xylophone"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    // guarantee: the shared normalized passage (~36 chars) far exceeds
    // k + w - 1 = 15, so (1,2) MUST share a fingerprint
    val pairs = Dedup.sharedFingerprintPairs(planted, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"planted passage pair missing: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not pair")
    // a ~36-char shared passage spans many winnowing windows -> several
    // distinct shared fingerprints, so the pair survives minShared = 2
    assert(pairs((1L, 2L)) >= 2L)
    val strict = Dedup.sharedFingerprintPairs(planted, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((1L, 2L)))
  }

  test("sharedFingerprintPairs: n_shared_fp counts DISTINCT fingerprints (repeats collapse)") {
    val rep = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, s"$rep $rep $rep"), // passage repeated within one doc
      (2L, rep)
    ).toDF("doc_id", "text")
    val once = Dedup.sharedFingerprintPairs(d, minShared = 1).collect()
    assert(once.length === 1)
    val nShared = once.head.getLong(2)
    // repeating the passage in doc 1 must not inflate the shared count
    // beyond doc 2's own distinct fingerprint count
    val doc2Fps = Dedup.winnowingFingerprintTable(d.filter($"doc_id" === 2))
      .select(size($"fingerprints")).head().getInt(0).toLong
    assert(nShared <= doc2Fps)
  }

  test("incrementalVerdicts: exact dup, near dup, accepted — and corpus never self-pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different text about distributed query engines at scale"),
      // corpus-internal near-dups: must NOT appear in the output at all
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                                   // exact
      (11L, base.replace("today", "tomorrow")),                      // near
      (12L, "unrelated fresh content with entirely novel vocabulary words here"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalVerdicts(corpus, incoming, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got.keySet === Set(10L, 11L, 12L), "one verdict per incoming doc")
    assert(got(10L)._1 === "exact_dup")
    assert(got(10L)._2.isEmpty, "exact dups carry no jaccard")
    assert(got(11L)._1 === "near_dup")
    assert(got(11L)._2.exists(j => j >= 0.5 && j < 1.0))
    assert(got(12L)._1 === "accepted")
    assert(got(12L)._2.isEmpty)
  }

  test("canonicalByScore keeps the best-scored member, id ascending on ties") {
    val members = Seq(
      (1L, 1L, 0.3), (2L, 1L, 0.9), (3L, 1L, 0.9), // cluster 1: 2 wins (tie, lower id)
      (7L, 7L, 0.1))                               // singleton: canonical by default
      .toDF("doc_id", "cluster_id", "quality")
    val got = Dedup.canonicalByScore(members, "quality")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false, 7L -> true))
  }

  test("crossCandidates pairs corpus x incoming only, never corpus x corpus") {
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq((1L, dup), (2L, dup)).toDF("doc_id", "text")
    val incoming = Seq((10L, dup), (11L, "nothing in common with anything else here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCandidates(corpus, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the corpus-internal (1,2) dup pair must be absent; both cross pairs present
    assert(pairs === Set((1L, 10L), (2L, 10L)))
  }

  test("lineLevelDedup removes cross-doc boilerplate, keeps order, counts df not occurrences") {
    val boiler = "Cookie Policy | Accept All"
    val d = Seq(
      (1L, s"unique first line\n$boiler\nunique closing line"),
      (2L, s"$boiler\nanother body line"),
      // doc 3 repeats ITS OWN heading twice: occurrence count would call it
      // boilerplate (3 occurrences), document frequency must not (df = 1)
      (3L, "my own heading\nmy own heading\nbody text here"),
      // doc 4 is pure boilerplate -> empty cleaned text
      (4L, boiler)
    ).toDF("doc_id", "text")
    val got = Dedup.lineLevelDedup(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_boilerplate"),
          r.getAs[String]("text_clean")))).toMap
    assert(got(1L) === ((3L, 1L, "unique first line\nunique closing line")))
    assert(got(2L) === ((2L, 1L, "another body line")))
    assert(got(3L) === ((3L, 0L, "my own heading\nmy own heading\nbody text here")))
    assert(got(4L) === ((1L, 1L, "")))
  }

  test("lineLevelDedup normalizes case/whitespace before fingerprinting; maxDocFreq raises the bar") {
    val d = Seq(
      (1L, "Shared Footer Text\nkeep me"),
      (2L, "  shared footer text  \nkeep me too"),
      (3L, "SHARED FOOTER TEXT\nthird body")
    ).toDF("doc_id", "text")
    // df = 3 under normalization; at the default bar all three lose the footer
    val strict = Dedup.lineLevelDedup(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(strict === Map(1L -> "keep me", 2L -> "keep me too", 3L -> "third body"))
    // raising maxDocFreq to 3 keeps the footer everywhere (df is not > 3)
    val lax = Dedup.lineLevelDedup(d, maxDocFreq = 3L)
      .agg(sum($"n_boilerplate")).head.getLong(0)
    assert(lax === 0L)
  }

  test("containmentPairs: excerpt-inside-doc found with exact overlap; ordering by (size, id)") {
    // B = A's 10 tokens + 10 extra -> A's 8 shingles all inside B's 18.
    val aTok = "a b c d e f g h i j"
    val docs = Seq(
      (10L, aTok),                               // 8 distinct shingles
      (2L, aTok + " k l m n o p q r s t"),       // superset, larger, smaller id
      (3L, "z y x w v u t s r q p o n m l")      // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("id_small"), r.getAs[Long]("id_large"),
        r.getAs[Long]("overlap"), r.getAs[Double]("containment")))
    // pair ordered by SIZE (A=10 smaller than B=2) not by id
    assert(got.toSeq === Seq((10L, 2L, 8L, 1.0)))
  }

  test("containmentPairs: integer tau gate is exact at the boundary") {
    // A: 10 shingles; B contains exactly 8 of them -> containment 0.8 kept;
    // C contains 7 -> 0.7 dropped. Tokens chosen so shared shingles are
    // contiguous runs.
    val a = "a b c d e f g h i j k l"            // 10 shingles
    val b = "a b c d e f g h i j " + "z1 z2 z3 z4 z5 z6 z7 z8"  // shares first 8
    val c = "a b c d e f g h i " + "y1 y2 y3 y4 y5 y6 y7 y8 y9" // shares first 7
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("id_small"), r.getAs[Long]("id_large"),
        r.getAs[Long]("overlap")))
    assert(got.toSeq.contains((1L, 2L, 8L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L), "0.7 must not pass the 0.8 gate")
  }

  test("signatureHammingJoin: probe x index matches brute force, never probe x probe") {
    // signatures chosen so every hamming class around the blocks=4 bound
    // (<= 3 guaranteed) appears: exact match, 1/2/3-bit flips, far apart
    val index = Seq(
      (10L, 0x0F0F0F0F0F0F0F0FL),
      (11L, 0x0F0F0F0F0F0F0F0EL), // 1 bit from 10
      (12L, 0x00000000FFFFFFFFL),
      (13L, -1L)                  // all ones: sign bit exercised
    ).toDF("id", "sig")
    val probe = Seq(
      (1L, 0x0F0F0F0F0F0F0F0FL), // 0 from 10, 1 from 11
      (2L, 0x0F0F0F0F0F0F0F00L), // 4 from 10 (outside maxHamming)
      (3L, 0x00000000FFFFFFFDL), // 1 from 12
      (4L, 0x7FFFFFFFFFFFFFFFL)  // 1 from 13 (top bit)
    ).toDF("id", "sig")
    val got = Dedup.signatureHammingJoin(probe, index, "id", "sig",
        blocks = 4, maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("index_id"),
        r.getAs[Int]("hamming"))).toSet
    val pl = probe.as[(Long, Long)].collect()
    val il = index.as[(Long, Long)].collect()
    val brute = (for {
      (pid, ps) <- pl; (iid, is) <- il
      d = java.lang.Long.bitCount(ps ^ is) if d <= 3
    } yield (pid, iid, d)).toSet
    assert(got === brute)
    assert(brute.contains((1L, 10L, 0)) && brute.contains((4L, 13L, 1)))
    // no probe-probe or index-index pairs by construction of the output ids
    assert(got.forall { case (p, i, _) => p < 10L && i >= 10L })
  }

  test("containmentPairs: matches an exhaustive reference on a planted corpus") {
    // 30 docs from a small vocab, plus planted excerpts; the prefix filter
    // must lose nothing vs brute force.
    val vocab = "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10".split(" ")
    val rnd = new scala.util.Random(7)
    val base = (1L to 30L).map(i =>
      (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val planted = Seq(
      (101L, base(0)._2),                         // exact dup of doc 1
      (102L, base(1)._2 + " v1 v2 v3 v4 v5"))     // doc 2 + tail
    val docs = (base ++ planted).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("id_small"), r.getAs[Long]("id_large"))).toSet
    // brute force over collected shingle sets
    val sets = docs.select($"doc_id",
        graft.functions.TextFunctions.distinctShingles($"text", 3).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    val expected = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
      if sa.size >= 5 && (sa.size < sb.size || (sa.size == sb.size && ia < ib))
      if (sa & sb).size * 5 >= sa.size * 4
    } yield (ia, ib)).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "planted excerpts must produce pairs")
  }

  test("exactSubstrSpans: planted spans found with exact extents, nothing else") {
    // 20-char span planted at different offsets; fillers share no 12-gram
    // and differ at both span boundaries, so no span can extend.
    val shared = "SHARED_SPAN_09876543"
    assert(shared.length == 20)
    val a = "a" * 10 + shared + "b" * 10          // span at 11
    val b = "c" * 16 + shared + "d" * 4           // span at 17
    val c = "z" * 13 + " totally unrelated text " // no >=12-char overlap
    val d = a                                     // exact dup of a
    val e = "e" * 5 + shared + "f" * 5 + shared + "g" * 5 // span TWICE
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d), (5L, e))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(docs, minLen = 12).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSet
    val expected = Set(
      (1L, 2L, 11L, 17L, 20L),
      (1L, 4L, 1L, 1L, 40L),  // whole-doc span for the exact dup
      (1L, 5L, 11L, 6L, 20L), (1L, 5L, 11L, 31L, 20L), // both alignments
      (2L, 4L, 17L, 11L, 20L),
      (2L, 5L, 17L, 6L, 20L), (2L, 5L, 17L, 31L, 20L),
      (4L, 5L, 11L, 6L, 20L), (4L, 5L, 11L, 31L, 20L))
    assert(got === expected)
  }

  test("exactSubstrSpans: maxBucket keeps the cap smallest ids, spans stay exact, drops accounted") {
    // 6 docs share one 20-char span (distinct fillers, distinct offsets):
    // its 9 inner 12-grams each occupy a bucket at occupancy 6
    val shared = "SHARED_SPAN_09876543"
    val docs = (1 to 6).map { i =>
      val c = ('a' + (i - 1)).toChar.toString
      (i.toLong, c * (9 + i) + shared + c * 3)
    }.toDF("doc_id", "text")
    val uncapped = Dedup.exactSubstrSpans(docs, minLen = 12).collect()
    assert(uncapped.length == 15, "C(6,2) pairs uncapped")
    // cap = 3: every span-gram bucket deterministically keeps doc ids
    // 1..3 (the bucketPairs cap orders by id), so spans survive ONLY among those —
    // recall loss, with the kept spans' extents still exact
    val capped = Dedup.exactSubstrSpans(docs, minLen = 12, maxBucket = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSet
    def start(i: Int): Long = (10 + i).toLong
    assert(capped === Set(
      (1L, 2L, start(1), start(2), 20L),
      (1L, 3L, start(1), start(3), 20L),
      (2L, 3L, start(2), start(3), 20L)))
    // the logged ledger's numbers: 9 buckets x (6 - 3) dropped rows
    val grams = Dedup.exactSubstrGrams(docs, minLen = 12)
    val sharedGh = grams.groupBy(col("gh"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("gh")
    val stats =
      Dedup.bucketCapStats(grams.join(sharedGh, Seq("gh")), Seq("gh"), 3)
    assert(stats === Dedup.BucketCapStats(droppedRows = 27, cappedBuckets = 9))
  }

  test("capBuckets: pos tiebreaker makes survivors total-order deterministic " +
      "when one doc repeats a gram in a bucket") {
    // bucket 10 holds doc 1 twice (a doc repeating a shared gram) — an
    // orderBy(id) alone leaves WHICH of the five rows survive cap=3 to
    // shuffle order; the cap orders by id and then by the frame's other
    // non-key column, pos, so the survivor set is pinned:
    // (id, pos) ascending -> (1,5), (1,9), (2,3). Every survivor shows in
    // a pair of the self-join: (1,5)-(2,3) and (1,9)-(2,3).
    val rows = Seq((10L, 1L, 9L), (10L, 2L, 7L), (10L, 1L, 5L),
        (10L, 2L, 3L), (10L, 3L, 1L))
      .toDF("gh", "id", "pos").repartition(8) // shuffle-order noise
    val got = (1 to 3).map { _ =>
      Dedup.bucketPairs(rows, Seq("gh"), 3, "spec") {
        _.select($"l.id", $"l.pos", $"r.id", $"r.pos")
      }.collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toSet
    }
    got.foreach(s => assert(s === Set((1L, 5L), (1L, 9L), (2L, 3L))))
  }

  test("exactSubstrSpans: minLen is a sharp threshold") {
    // docs 1-2 share exactly minLen chars (reported, exact length); docs
    // 1-3 share exactly minLen-1 (below threshold, absent). Boundary chars
    // differ so spans cannot extend.
    val s12 = "XYZ_THRESH12" // 12 chars
    assert(s12.length == 12)
    val docs = Seq(
      (1L, "a" * 8 + s12 + "b" * 8),
      (2L, "c" * 3 + s12 + "d" * 3),
      (3L, "e" * 6 + s12.take(11) + "f" * 6)).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(docs, minLen = 12).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSet
    assert(got === Set((1L, 2L, 9L, 4L, 12L)))
  }

  test("selfRepeatSpans: planted internal repeat and periodic text, exactly") {
    val S = "REPEAT_SPAN_0123456789" // 22 chars, no internal 12-char repeat
    assert(S.length == 22)
    val docs = Seq(
      (1L, "x" * 5 + S + "y" * 4 + S + "z" * 3), // S at 6 and 32
      (2L, "a" * 30),                            // period-1: every diag repeats
      (3L, "completely unrepetitive content !")).toDF("doc_id", "text")
    val got = Dedup.selfRepeatSpans(docs, minLen = 12).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_1"),
        r.getAs[Long]("start_2"), r.getAs[Long]("span_len"))).toSet
    // doc 2: anchors 1..19 all equal; diag d has run pos 1..19-d ->
    // span (1, 1+d, 30-d) for every d in 1..18
    val periodic = (1L to 18L).map(d => (2L, 1L, 1L + d, 30L - d)).toSet
    assert(got === (periodic + ((1L, 6L, 32L, 22L))))
  }

  test("hasInternalRepeat: map-side existence agrees with the grouped gram " +
      "frame AND with brute-force substring scanning, incl. length edges") {
    val rnd = new scala.util.Random(29)
    val alpha = "abc"
    val L = 8
    val texts = (1L to 40L).map { i =>
      // mixed lengths straddling the L and L+1 edges plus random bodies
      // over a 3-char alphabet (dense accidental repeats)
      val len = (i % 7) match {
        case 0 => L - 1 // too short for any gram
        case 1 => L     // exactly one gram
        case _ => 20 + rnd.nextInt(40)
      }
      i -> Seq.fill(len.toInt)(alpha(rnd.nextInt(3))).mkString
    }.toMap
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = docs
      .select($"doc_id", Dedup.hasInternalRepeat($"text", L).as("rep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // reference 1: brute force over the raw strings
    val brute = texts.map { case (id, t) =>
      val grams = t.sliding(L).toSeq
      id -> (grams.size != grams.distinct.size)
    }
    assert(got === brute)
    // reference 2: the shuffling grouped-count form this replaces
    val grouped = Dedup.exactSubstrGrams(docs, minLen = L)
      .groupBy($"id", $"gh").count().filter($"count" > 1)
      .select($"id").distinct().collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2).keySet === grouped)
  }

  test("hasInternalRepeat overflow split: docs past the inline cutoff go " +
      "null inline, the segmented overflow path answers them (repeats " +
      "spanning slice boundaries included), and the coalesce wiring " +
      "reproduces brute force over the whole corpus") {
    val L = 8
    val cutoff = 40  // docs longer than this many CHARS go to overflow
    val segLen = 16  // slices far smaller than the docs: boundary coverage
    // long docs (gram count > cutoff): one with its ONLY repeat pair
    // straddling a slice boundary (positions chosen so the two copies land
    // in different 16-gram slices), one with no repeat at all (distinct
    // chars), plus short docs that stay inline
    val longRep = ('a' to 'z').mkString + "REPEATXY" +
      ('A' to 'Z').mkString + "REPEATXY" + "0123456789"
    val longNoRep = (0 until 90).map(i => (33 + (i * 7 + i / 13) % 90).toChar)
      .mkString.zipWithIndex.map { case (c, i) => ((c + i) % 94 + 33).toChar }
      .mkString
    val texts = Map(
      1L -> longRep,
      2L -> "abcdefgh" * 12, // long AND periodic: repeats inside slices too
      3L -> (longNoRep.take(60) + longNoRep.drop(60)), // long, likely no repeat
      4L -> "shortshort", // inline: repeat iff L-gram repeats (it doesn't at L=8)
      5L -> "xyxyxyxyxyxyxyxyxyxy", // inline with repeats
      // between the boundaries: 44 chars (> cutoff) but 37 gram starts
      // (<= cutoff) — overflow under the documented CHARACTER-count
      // contract, inline under the old gram-count reading (r16 advice)
      6L -> ('0' to '[').mkString)
    val docs = texts.toSeq.toDF("doc_id", "text")
    val brute = texts.map { case (id, t) =>
      val grams = t.sliding(L).toSeq
      id -> (grams.size != grams.distinct.size)
    }
    // (a) inline column: null exactly where gram count > cutoff
    val inline = docs.select($"doc_id",
        Dedup.hasInternalRepeat($"text", L, maxInlineChars = cutoff).as("rep"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    texts.foreach { case (id, t) =>
      assert(inline(id).isEmpty === (t.length > cutoff),
        s"doc $id: inline null iff longer than $cutoff chars (len=${t.length})")
      inline(id).foreach(v => assert(v === brute(id), s"doc $id inline"))
    }
    // (b) overflow frame: exactly the docs past the character cutoff,
    // brute-force-correct
    val over = Dedup.internalRepeatOverflow(docs, minLen = L,
        maxInlineChars = cutoff, segLen = segLen)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(over.keySet === texts.keySet.filter(id =>
      texts(id).length > cutoff))
    over.foreach { case (id, v) => assert(v === brute(id), s"doc $id overflow") }
    // (c) the q191 wiring: broadcast-left-join + coalesce == brute force
    val wired = docs
      .join(broadcast(Dedup.internalRepeatOverflow(docs, minLen = L,
        maxInlineChars = cutoff, segLen = segLen)
        .withColumnRenamed("has_repeat", "rep_overflow")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"rep_overflow",
        Dedup.hasInternalRepeat($"text", L, maxInlineChars = cutoff)).as("rep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(wired === brute)
  }

  test("exactSubstrSpans: matches a brute-force reference on a random corpus") {
    // 12 docs over a 4-char alphabet (forces heavy accidental overlap);
    // the reference enumerates ALL maximal shared spans by direct diagonal
    // scanning over the raw strings — no hashing, no windows.
    val rnd = new scala.util.Random(13)
    val alpha = "abcd"
    val texts = (1L to 12L).map(i =>
      i -> Seq.fill(60)(alpha(rnd.nextInt(4))).mkString).toMap
    val minLen = 6
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(docs, minLen = minLen).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSet
    val expected = (for {
      ia <- 1L to 12L; ib <- (ia + 1) to 12L
      ta = texts(ia); tb = texts(ib)
      diag <- -(tb.length - 1) to (ta.length - 1)
      // walk the diagonal, collecting maximal match runs
      run <- {
        val lo = math.max(0, diag); val hi = math.min(ta.length, tb.length + diag)
        val runs = scala.collection.mutable.ListBuffer[(Int, Int)]()
        var i = lo
        while (i < hi) {
          if (ta(i) == tb(i - diag)) {
            val st = i
            while (i < hi && ta(i) == tb(i - diag)) i += 1
            if (i - st >= minLen) runs += ((st, i - st))
          } else i += 1
        }
        runs.toList
      }
    } yield (ia, ib, run._1 + 1L, run._1 - diag + 1L, run._2.toLong)).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "a 4-char alphabet at length 60 must overlap")

    // coverage over the same corpus: per-doc char-mask union of the
    // reference spans (both sides of every pair) — the boolean-array truth
    // the interval-sweep must reproduce
    val mask = scala.collection.mutable.Map[Long, Array[Boolean]]()
    (1L to 12L).foreach(i => mask(i) = new Array[Boolean](60))
    expected.foreach { case (a, b, sa, sb, len) =>
      (0L until len).foreach { o =>
        mask(a)((sa - 1 + o).toInt) = true
        mask(b)((sb - 1 + o).toInt) = true
      }
    }
    // cross-side (index vs probe) form: splitting the same corpus by id
    // parity, the index join must return exactly the cross-parity subset
    // of the all-pairs spans (orientation: index side = even ids)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val gotX = Dedup.exactSubstrSpansAgainstIndex(
        Dedup.exactSubstrGrams(even, minLen), Dedup.exactSubstrGrams(odd, minLen),
        minLen).collect()
      .map(r => (r.getAs[Long]("index_id"), r.getAs[Long]("probe_id"),
        r.getAs[Long]("start_i"), r.getAs[Long]("start_p"),
        r.getAs[Long]("span_len"))).toSet
    val expX = expected.flatMap { case (a, b, sa, sb, len) =>
      if (a % 2 == 0 && b % 2 == 1) Some((a, b, sa, sb, len))
      else if (a % 2 == 1 && b % 2 == 0) Some((b, a, sb, sa, len))
      else None
    }
    assert(gotX === expX)
    assert(expX.nonEmpty, "the random corpus must have cross-parity spans")

    val gotCov = Dedup.exactSubstrCoverage(docs, minLen = minLen).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("covered_chars"), r.getAs[Double]("coverage"))).toSet
    val expCov = (1L to 12L).map { i =>
      val c = mask(i).count(identity).toLong
      (i, 60L, c, BigDecimal(c.toDouble / 60.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    assert(gotCov === expCov)
  }
}
