package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project,
  Window => LogicalWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graft.ArrayExpressions

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, each designed so the
  * expensive step is a key-partitioned shuffle (never a cartesian product):
  *
  *  - exact:    hash-groupBy on a content fingerprint (one shuffle on the
  *              fingerprint — at 100 TB this is the minimum possible work).
  *  - minhash:  shingles -> K independent min-hashes -> B bands; candidate
  *              pairs join only within (band, signature) buckets, so the
  *              join fan-out is bounded by bucket occupancy, not n^2.
  *  - simhash:  64-bit weighted sign fingerprint; near-dups differ in few
  *              bits, candidates join on rotated prefix blocks.
  *
  * All hashing uses xxhash64 with integer seeds — deterministic across runs,
  * partitions, and cluster sizes.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default per-bucket membership cap for the SIMILARITY-keyed candidate
    * self-joins — minhash banding and embedding LSH, whose buckets only
    * fill when members are actually near-identical (background collision
    * ~1e-4; measured max occupancy 4 on the sf0.1 fixture). 1024 is far
    * above target occupancy there, so on healthy data the cap never fires —
    * it exists to bound the DEGENERATE bucket, e.g. millions of
    * near-identical boilerplate docs sharing one (band, bucket), where the
    * within-bucket self-join would otherwise go locally O(m²). SimHash
    * block keys are excluded from this default (see [[simhashCandidates]]:
    * their occupancy grows by background collision, not similarity). */
  val DefaultMaxBucket = 1024

  /** Rows dropped by a bucket-occupancy cap, and how many buckets hit it. */
  final case class BucketCapStats(droppedRows: Long, cappedBuckets: Long)

  /** Dropped-row accounting for the [[bucketPairs]] cap: one small
    * aggregate over the band frame, exposed so cap behavior is
    * observable/testable rather than silent. */
  private[operators] def bucketCapStats(
      banded: DataFrame, keys: Seq[String], cap: Int): BucketCapStats = {
    val r = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
      .agg(coalesce(sum(col("occ") - cap), lit(0L)).as("dropped"),
           count(lit(1)).as("buckets"))
      .head()
    BucketCapStats(r.getLong(0), r.getLong(1))
  }

  /** The [[bucketPairs]] cap: keep at most `cap` members per bucket, so
    * each bucket contributes at most C(cap, 2) candidate pairs and
    * candidate generation stays near-linear in n even when a pathological
    * corpus puts millions of near-identical docs into one bucket. Capping
    * loses only the dropped members' pairs within that bucket — recall,
    * never precision (candidates are refined exactly downstream); run
    * [[exact]] dedup first so byte-identical docs collapse to one
    * representative before they can saturate a bucket. cap <= 0 disables.
    *
    * Survivors are the first `cap` rows by `id`, then by the frame's other
    * non-key columns: a total order on any frame of distinct rows, so
    * WHICH rows survive never depends on shuffle order, also where one id
    * holds several rows of a bucket (a doc repeating a shared gram: the
    * gram frames order by `pos` next).
    *
    * No silent truncation: when any bucket exceeds the cap, the dropped row
    * and bucket counts are computed ([[bucketCapStats]]) and logged at WARN.
    *
    * Cost shape: on healthy data (no bucket over the cap — every fixture and
    * any exact-deduped corpus) the guard costs one SAMPLED suspicion probe
    * (~32/cap of the frame; the r6 version ran the exact groupBy-count over
    * the full banded frame per generator, which alone cost q47 ~2x) and the
    * join plan is UNTOUCHED — the short-circuit matters because the
    * row_number window would otherwise sit on both self-join sides, where no
    * exchange boundary exists for Spark to reuse, and execute twice
    * (measured ~2x the whole uncapped candidate step at sf0.1). Only a
    * corpus that actually has a degenerate bucket pays for the exact stats
    * pass and the window — there it replaces a locally-O(m²) join blowup.
    *
    * Probe math: at fraction f = 32/cap a bucket at occupancy m has
    * Binomial(m, f) sampled members — mean >= 32 for any m >= cap, so
    * P(probe < 8) < 1e-7 (Chernoff); a healthy bucket (m <= 8, measured 4 on
    * the fixtures) triggers with p < 1e-11. A missed degenerate bucket costs
    * performance only. The sample is seed-pinned, so a given input always
    * takes the same path. Caps under 64 keep the r6 behavior (exact stats
    * pass first — the probe would need most of the frame anyway, and
    * spec-sized caps stay deterministic).
    *
    * `exactGuard` skips the probe and always runs the exact occupancy
    * pass: the probe makes the cap a with-overwhelming-probability bound,
    * not a hard one, so a caller whose contract promises "at most cap
    * members per bucket" (coEngagementEdges) asks for the exact pass. */
  private def capBuckets(
      banded: DataFrame,
      keys: Seq[String],
      cap: Int,
      opName: String,
      exactGuard: Boolean): DataFrame = {
    if (cap <= 0) return banded
    if (cap >= 64 && !exactGuard) {
      val f = 32.0 / cap
      val suspicious = !banded.sample(withReplacement = false, f, seed = 42)
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 8)
        .isEmpty
      if (!suspicious) return banded
    }
    val stats = bucketCapStats(banded, keys, cap)
    if (stats.droppedRows == 0) return banded
    log.warn(s"$opName: bucket occupancy cap $cap dropped ${stats.droppedRows} " +
      s"banded rows across ${stats.cappedBuckets} degenerate buckets " +
      "(recall-only loss; run Dedup.exact first to collapse identical docs)")
    val order = "id" +: banded.columns.filterNot(c => c == "id" || keys.contains(c))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    banded.withColumn("occ_rank", row_number().over(w))
      .filter(col("occ_rank") <= cap)
      .drop("occ_rank")
  }

  /** The one bucket join behind every candidate generator, span join and
    * co-engagement edge: `bands` (an `id` column plus the bucket `keys`)
    * joins itself on the keys with `l.id < r.id`, or, given `other`, joins
    * `other` on the keys (a cross-side join; only `bands` is capped, see
    * [[capBuckets]]). `pairs` turns the joined rows, aliased `l` and `r`,
    * into the caller's output.
    *
    * With the cap on, `bands` has two readers, the cap's occupancy check
    * and the join: the call runs in a [[Materialize.shared]] scope over it,
    * whose first action is the check. A `bands` that is already cached
    * belongs to an enclosing scope, which also materializes the result, so
    * the call opens no scope of its own. With the cap off nothing is
    * persisted and the pairs stay lazy, so the call runs no job. Each side
    * of a cross join reads its frame once.
    *
    * A self-join is forced to sort-merge, whose two sides are one reused
    * exchange, unless `bands` is read as it is by both sides of a
    * broadcast join: a cached frame, or one whose top, under projections
    * and filters, is a window or an aggregate, so that its rows come
    * straight off its own exchange. Any other frame would run its map steps
    * (a scan, an explode, a kernel) once for the broadcast and again on the
    * streamed side. Where the frame is read as it is the planner picks: a
    * forced sort-merge join over a cache measured one job more per call
    * (its sides read the cache as two stages, not one reused exchange), and
    * over co-engagement's top-K window one stage more (a broadcast join
    * keeps the window's user partitioning, which the pair count reuses).
    * Either way the band frame's scan and map steps run once per action. */
  private[operators] def bucketPairs(
      bands: DataFrame,
      keys: Seq[String],
      cap: Int,
      opName: String,
      other: Option[DataFrame] = None,
      exactGuard: Boolean = false)(pairs: DataFrame => DataFrame): DataFrame = {
    def cached = bands.storageLevel != StorageLevel.NONE
    def offExchange(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => offExchange(c)
      case Filter(_, c) => offExchange(c)
      case _: Aggregate | _: LogicalWindow => true
      case _ => false
    }
    def join(): DataFrame = {
      val capped = capBuckets(bands, keys, cap, opName, exactGuard)
      val on = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
      val l = capped.as("l")
      pairs(other match {
        case Some(o) => l.join(o.as("r"), on)
        case None =>
          val readAsIs = cached || offExchange(bands.queryExecution.analyzed)
          val side = if (readAsIs) l else l.hint("shuffle_merge")
          side.join(capped.as("r"), on && col("l.id") < col("r.id"))
      })
    }
    if (cap > 0 && !cached) Materialize.shared(bands)(join()) else join()
  }

  /** Exact duplicate groups by normalized-content fingerprint. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
           count(lit(1)).as("dup_count"))

  /** Streaming form of [[exact]] for continuous ingestion: keeps the FIRST
    * document per content fingerprint inside the watermark horizon and
    * drops re-arrivals. State is one fingerprint per distinct document,
    * expired by the watermark — bounded by the dedup horizon, not the
    * stream's lifetime (the standard shape for dedup at ingestion time;
    * historical dedup across horizons belongs to the batch operators).
    * Works on any streaming DataFrame with a text column and an event-time
    * column. */
  def exactStreaming(
      docs: DataFrame,
      textCol: String = "text",
      eventTimeCol: String = "event_ts",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Cross-document LINE dedup (the RefinedWeb/CCNet boilerplate pass):
    * lines that recur across MANY documents — navigation chrome, cookie
    * banners, license footers — are template boilerplate, invisible to
    * document-level dedup (q34: whole-text fingerprints) and to per-doc
    * line heuristics (c4CleanLines judges each line in isolation). The
    * corpus-frequency signal is the one that finds them: explode lines,
    * fingerprint the normalized line, count each fingerprint's DOCUMENT
    * frequency corpus-wide, and drop lines whose df exceeds `maxDocFreq`.
    *
    * Returns one row per document: (id, n_lines, n_boilerplate,
    * text_clean) — surviving lines re-joined with newlines in original
    * order (empty string when nothing survives), plus the counts a
    * curation funnel logs for accounting.
    *
    * Scale shape (reference: `spark_job/spark_streaming.py` has no
    * line-level pass; this is the corpus-curation extension): the line
    * explode is O(corpus bytes); the df aggregate is ONE keyed shuffle on
    * the line fingerprint with map-side partial aggregation (count of
    * distinct docs per fp is done as a two-level groupBy — (fp, id) first,
    * then fp — both partial-aggregable, never an expand). The join back
    * ships only the BOILERPLATE fingerprint set (df > maxDocFreq), which
    * is orders of magnitude smaller than the distinct-line table — at
    * real-corpus skew it broadcasts, so the per-line verdict is a
    * broadcast-hash lookup, not a second corpus-wide shuffle. Reassembly
    * is one groupBy(id) carrying (pos, line) structs — the third and last
    * shuffle, keyed on the document id like every per-doc aggregate. */
  def lineLevelDedup(
      docs: DataFrame,
      maxDocFreq: Long = 1L,
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastBoiler: Boolean = true,
      lineSep: String = "\n",
      rejoinSep: String = "\n"): DataFrame = {
    // lineSep is a Java regex (Spark split semantics); the default "\n"
    // is the RefinedWeb line pass, but corpora whose unit of boilerplate
    // is the sentence/paragraph pass their own boundary regex
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), lineSep)).as(Seq("pos", "line")))
      .withColumn("fp", md5(lower(trim(col("line")))))
    // document frequency, not occurrence count: a doc that repeats its own
    // heading should not push that heading over the boilerplate bar
    val boiler = lines
      .groupBy(col("fp"), col("id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("fp"), lit(true).as("is_boiler"))
    // broadcastBoiler = false is the escape hatch for corpora whose
    // boilerplate fp set outgrows executor memory (billions of distinct
    // template lines): the fallback is a keyed shuffle join on fp — one
    // extra corpus-wide shuffle, never a correctness change
    val boilerSide = if (broadcastBoiler) broadcast(boiler) else boiler
    lines
      .join(boilerSide, Seq("fp"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boilerplate"),
        array_join(
          transform(
            array_sort(collect_list(when(col("is_boiler").isNull,
              struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          rejoinSep).as("text_clean"))
      .select(col("id").as(idCol), col("n_lines"), col("n_boilerplate"),
        col("text_clean"))
  }

  /** The k-member minhash family over a pre-hashed shingle: member i is
    * `xxhash64(i, h)` — seeded xxhash64 over the 64-bit pre-hash. The
    * shingle STRING is hashed exactly once; family members then hash a
    * fixed-width LONG (a few xxh rounds) instead of re-scanning the string
    * bytes k times, which dominated the corpus signature scan (measured ~4x
    * on k=64 at sf0.1). Ordering-independence across members matters here
    * (minhash agreement == jaccard only under family independence) — cheap
    * XOR/shift mixers measurably fail that (agreement collapsed to ~0.2 at
    * j=0.6 in DedupSpec), seeded xxhash64 does not. */
  private def familyHash(h: Column, seed: Int): Column =
    xxhash64(lit(seed), h)

  /** MinHash signature as a per-row column: for each of the k family
    * members, the minimum [[familyHash]] over the document's shingle
    * hashes. Returns array<bigint> of length k (Long.MaxValue sentinel for
    * shingle-less or NULL docs).
    *
    * Native [[org.apache.spark.sql.graft.MinHashSignature]] kernel: one
    * tokenize + one O(shingles x k) primitive loop inside whole-stage
    * codegen — the per-row form is now corpus-safe, which matters where
    * per-row is the only available shape (streaming ingestion). DedupSpec
    * pins bit-parity with the former interpreted-aggregate form; the
    * explode/groupBy corpus form is still [[minhashSignatureTable]]
    * (identical values). */
  def minhashSignature(text: Column, k: Int, shingle: Int = 3): Column =
    coalesce(
      org.apache.spark.sql.graft.ArrayExpressions.minhashSignature(text, shingle, k),
      array((0 until k).map(_ => lit(Long.MaxValue)): _*))

  /** MinHash signatures for a whole corpus: one explode pass over shingles,
    * ONE string hash per shingle, k codegen'd `min(familyHash)` aggregates
    * with map-side partial aggregation, one shuffle on the doc id. Linear in
    * total shingle count with a small constant regardless of k — the
    * 100 TB-safe form of [[minhashSignature]] (bit-identical output, incl.
    * Long.MaxValue slots for shingle-less docs). Returns (id, sig). */
  def minhashSignatureTable(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 16,
      shingle: Int = 3): DataFrame = {
    // explode_outer keeps shingle-less docs as a single null-hash row, so
    // no second scan + join-back is needed to preserve them; the guarded
    // hash leaves their mins null -> coalesced to the Long.MaxValue sentinel
    // (bit-identical to the former ids-join form, one corpus scan cheaper).
    // Shingle hashing is the fused WordShingleHashes kernel (tokenize +
    // in-place XXH64, no shingle strings); duplicates are NOT removed —
    // min over the hash multiset equals min over the distinct set, so the
    // signature stays bit-identical to the per-row distinct form while the
    // scan skips both the string materialization and the string distinct.
    val hashed = docs
      .select(col(idCol).as("id"),
        explode_outer(org.apache.spark.sql.graft.ArrayExpressions
          .wordShingleHashes(col(textCol), shingle)).as("h"))
      // the null guard must wrap the FAMILY hash too: xxhash64 skips null
      // arguments (hashing just the seed) instead of propagating null
      .select(col("id") +: (0 until k).map(seed =>
        when(col("h").isNotNull, familyHash(col("h"), seed)).as(s"h$seed")): _*)
    hashed.groupBy(col("id"))
      .agg(min(col("h0")).as("h0"), (1 until k).map(i => min(col(s"h$i")).as(s"h$i")): _*)
      .select(col("id"),
        array((0 until k).map(i => coalesce(col(s"h$i"), lit(Long.MaxValue))): _*).as("sig"))
  }

  /** MinHash + LSH banding: emits candidate near-duplicate pairs (a < b),
    * the [[bucketPairs]] self-join over [[bandedSignatures]] (its fill
    * rule and lifecycle). The shingle arrays for the Jaccard refinement
    * are NOT cached: they are corpus-sized, and re-scanning columnar
    * parquet twice beats spilling a corpus-sized cache at scale.
    *
    * @param bands  number of LSH bands; each band hashes `r = k/bands`
    *               signature slots into one bucket key. Pairs agreeing on any
    *               band are candidates. P(candidate) = 1-(1-j^r)^b for
    *               Jaccard j. Default k=64/bands=16 gives r=4 rows per band —
    *               candidate threshold (1/16)^(1/4) ~= 0.5, with
    *               false-candidate rate ~ b*j^r ~= 16*(0.05)^4 = 1e-4 at the
    *               j~=0.05 background similarity typical of boilerplate-heavy
    *               web corpora, so the candidate set stays sub-quadratic at
    *               100 TB. (r=2 banding admits background pairs at
    *               1-(1-j^2)^b ~= 2%, an O(n^2/50) candidate set — a scale
    *               liability.) Signature variance on short docs is handled by
    *               MORE HASHES (k=64, 16 independent band chances), not fewer
    *               rows per band: a j=0.9 pair misses a 4-row band with
    *               p=1-0.9^4~=0.34, but misses all 16 with p~=3e-8 (pinned in
    *               DedupSpec's short-doc test).
    * @param maxBucket degenerate-bucket guard: at most this many members per
    *               (band, bucket) join the self-join (see [[bucketPairs]];
    *               drops are logged, never silent). <= 0 disables.
    */
  def minhashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    // batch self-dedup: spread the (id, text) rows so the shingle hash walk
    // and the k partial mins run at conf width, not the scan's split count
    // (q46 profile: the whole signature build ran 321 ms in 1 of 32 tasks)
    bucketPairs(bandedSignatures(Layout.spread(docs, col(idCol)), textCol, idCol, k, bands,
        shingle), Seq("band", "bucket"), maxBucket, "minhashCandidates") {
      // pairs that collide in more than one band are emitted once
      _.select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
    }

  /** Exact shingle-Jaccard refinement of a candidate-pair set, keeping
    * pairs at or above `threshold` — shared by the minhash/simhash/ensemble
    * near-dup operators.
    *
    * Shingles are computed ONLY for documents that appear in some candidate
    * pair (semi-join on the candidate id set first). At corpus scale the
    * candidate set is orders of magnitude smaller than the corpus, and the
    * former inline form shingled the WHOLE corpus twice and shipped the
    * shingle arrays (~3x the text bytes) through both refinement joins —
    * pure waste for the overwhelming majority of rows that touch no
    * candidate. With the semi-join, the corpus scan projects only
    * (id, text), AQE broadcast-converts the tiny id set when it fits, and
    * the shingle arrays exist only for candidate docs. `candidatePairs`
    * should be cheap to re-evaluate: the shingle frame's id set and the
    * pair join each read it. The generators hand over their checkpoint
    * when the bucket cap is on (the default); with it off the candidate
    * plan runs once for each of the two. */
  private def refineByJaccard(
      docs: DataFrame,
      candidatePairs: DataFrame,
      threshold: Double,
      textCol: String,
      idCol: String,
      shingle: Int): DataFrame = {
    val cands = candidatePairs
    // no .distinct(): the semi-join build side tolerates duplicate ids, and
    // the distinct would be one more shuffle of an already-small set
    val ids = cands.select(col("id_a").as("sid"))
      .union(cands.select(col("id_b").as("sid")))
    // BROADCAST the candidate-id semi-join (r19, guide §3.1): the id set is
    // banding output — sub-quadratic by construction and cap-bounded — but
    // it reaches the planner as a checkpointed Scan ExistingRDD with no
    // usable size estimate, so the q46 plan picked a SortMergeJoin LeftSemi
    // that shuffled the ENTIRE corpus (id, text) by id — twice, once per
    // pair-join side. The hint removes both full-corpus exchanges; the
    // corpus is now never shuffled here at any scale.
    // Both pair joins read the shingle frame, which holds only candidate
    // docs (the distinctShingles kernel is the dominant CPU of the q46
    // profile: 5.7 core-seconds per run at sf0.1).
    val sh = Materialize.shared()(docs
      .select(col(idCol).as("sid"), col(textCol))
      .join(broadcast(ids), Seq("sid"), "left_semi")
      .select(col("sid"),
        TextFunctions.distinctShingles(col(textCol), shingle).as("sh")))
    cands
      .join(sh.withColumnRenamed("sid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("sid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(TextFunctions.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate pairs refined with exact shingle-Jaccard, keeping pairs at or
    * above `threshold`. The Jaccard join touches only LSH candidates, and
    * shingles exist only for candidate docs (see [[refineByJaccard]]). */
  def minhashNearDups(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    refineByJaccard(docs,
      minhashCandidates(docs, textCol, idCol, k, bands, shingle, maxBucket),
      threshold, textCol, idCol, shingle)

  /** Asymmetric containment pairs — "document A is (mostly) inside
    * document B": pairs ordered smaller→larger by distinct-shingle count
    * with containment |A∩B| / |A| ≥ tauNum/tauDen. The case Jaccard-based
    * dedup is structurally blind to: an excerpt quoted inside a long doc
    * has high containment but LOW Jaccard (the union is dominated by B),
    * so no Jaccard threshold catches it without drowning in noise.
    * Curation pipelines run this to collapse quote/boilerplate-wrapper
    * inclusion chains.
    *
    * Candidate generation is the PREFIX FILTER for overlap joins
    * (SSJoin/PPJoin family): under a global shingle order by (df, shingle),
    * if |A∩B| ≥ ⌈τ·|A|⌉ then A's ⌊(1−τ)·|A|⌋+1 first (= globally rarest)
    * shingles cannot all miss B — at most |A|−⌈τ|A|⌉ = ⌊(1−τ)|A|⌋ of A's
    * shingles miss B at all. So probing ONLY those prefix shingles into the
    * full (doc, shingle) index is a COMPLETE candidate generator, and the
    * probe side is df-ordered-rarest by construction — posting lists stay
    * short exactly where the join would blow up. The exact intersection
    * count then runs once per distinct candidate pair, and the τ gate
    * compares integers (overlap·tauDen ≥ size·tauNum): no float boundary.
    *
    * Scale shape: df is shingle-keyed (vocabulary-bounded); the per-doc
    * rank window partitions by doc; the probe join keys on shingle; the
    * refinement joins key on doc ids. No stage touches all pairs.
    */
  def containmentPairs(
      docs: DataFrame,
      tauNum: Int = 4,
      tauDen: Int = 5,
      minShingles: Int = 5,
      shingle: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen, s"need 0 < tau <= 1: $tauNum/$tauDen")
    // The shingle explode feeds sizes, df, the rank window and both
    // refinement probes: the SSJoin index build's temp table. Spread first
    // (always: this operator is a batch self-join): the distinctShingles
    // kernel, its dominant CPU, would otherwise run on the scan's splits.
    val sh = Materialize.shared()(Layout.spread(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        explode(TextFunctions.distinctShingles(col("__t"), shingle)).as("sh")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfx = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // Every shingle ranked within its doc under ONE global (df, shingle)
    // order — the probe side filters this to the prefix; the index side
    // keeps it all but carries the rank for the positional filter below.
    // The window subtree is evaluated once per consumer (probe + index
    // side): checkpointing it eagerly was MEASURED slower at fixture scale
    // (the extra materialization job costs more than the recompute over
    // the checkpointed `sh` blocks), so the recompute is the accepted
    // trade; at cluster scale the SSJoin index would be a written temp
    // table and both consumers would scan it.
    val ranked = sh.join(dfx, "sh").join(sizes, "id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("sh"))))
      .select(col("id"), col("sh"), col("sz"), col("rk"))
    val prefix = ranked
      .filter(col("sz") >= minShingles &&
        col("rk") <= expr(s"sz * ${tauDen - tauNum} div $tauDen") + 1)
    // PPJoin positional filter: a probe match at in-doc ranks (rkA, rkB)
    // admits at most 1 + min(szA − rkA, szB − rkB) common shingles (all
    // commons at or after the matched rank on BOTH sides), so any candidate
    // whose bound is already below ⌈τ·szA⌉ is dead on arrival. Completeness:
    // for a true pair, the globally FIRST common shingle sits inside A's
    // prefix (else overlap ≤ ⌊(1−τ)szA⌋ < ⌈τ·szA⌉) and its bound is ≥ the
    // true overlap — that probe row always survives. Integer compare as in
    // the final τ gate: bound·tauDen ≥ szA·tauNum ⟺ bound ≥ ⌈τ·szA⌉.
    val cands = prefix.alias("p").join(ranked.alias("f"),
        col("p.sh") === col("f.sh") &&
        (col("p.sz") < col("f.sz") ||
          (col("p.sz") === col("f.sz") && col("p.id") < col("f.id"))) &&
        (lit(1) + least(col("p.sz") - col("p.rk"), col("f.sz") - col("f.rk"))) * tauDen >=
          col("p.sz") * tauNum)
      .select(col("p.id").as("id_small"), col("f.id").as("id_large"),
        col("p.sz").as("sz_small"))
      .distinct()
    // sz_small rides through the aggregation key (constant per pair), so
    // no join-back over the candidate set is needed to recover it.
    cands
      .join(sh.select(col("id").as("id_small"), col("sh")), "id_small")
      .join(sh.select(col("id").as("id_large"), col("sh")), Seq("id_large", "sh"))
      .groupBy(col("id_small"), col("id_large"), col("sz_small"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") * tauDen >= col("sz_small") * tauNum)
      .select(col("id_small"), col("id_large"), col("overlap"),
        round(col("overlap").cast("double") / col("sz_small"), 6).as("containment"))
  }

  /** Canonical near-duplicate clusters: connected components over a
    * near-dup pair graph, labeling every member with its component's
    * MINIMUM doc id — the canonical id a production dedup pipeline keeps.
    * This is the step after [[minhashNearDups]]/[[ensembleNearDups]]:
    * pairwise output alone cannot answer "which docs survive" when
    * near-dups CHAIN (A~B and B~C with A!~C must still collapse into one
    * cluster with one canonical).
    *
    * Algorithm: distributed min-label propagation with pointer jumping.
    * Each round, (a) every node takes the min label over itself and its
    * neighbors — one narrow join of the node-partitioned edges with the
    * labels plus one map-side-combined min shuffle — then (b) labels
    * POINT-JUMP through the label graph (label(x) := label(label(x))),
    * which doubles the distance the component minimum travels per round:
    * one shuffle asks each label's own row, one brings the answer back to
    * the asking node. Convergence is O(log diameter) rounds instead of
    * plain propagation's O(diameter) — the round-shape of the
    * alternating-star MapReduce CC algorithms, so a 2^25-diameter chain
    * (far beyond any real near-dup graph) converges within the default
    * round budget. The loop runs on the [[Loops]] kernel: each round is
    * materialized by ONE action that also counts the changed labels (the
    * convergence read), so lineage depth stays constant.
    *
    * Ids compare in Spark SQL's order and keep its join semantics: a null
    * id joins nothing, so it never passes its label on, but takes the min
    * of its partners' labels. Binary ids are refused.
    *
    * Returns (doc_id, cluster_id) for every doc THAT APPEARS IN A PAIR;
    * singleton docs are absent by construction — left-join the corpus and
    * coalesce to the doc's own id for whole-corpus cluster labels (q58's
    * shape). Input pair orientation does not matter; self-pairs are
    * harmless. */
  def nearDupClusters(
      pairs: DataFrame,
      idColA: String = "id_a",
      idColB: String = "id_b",
      maxRounds: Int = 25): DataFrame = {
    val edges = pairs.select(col(idColA).as("src"), col(idColB).as("dst"))
      .union(pairs.select(col(idColB).as("src"), col(idColA).as("dst")))
    val id = edges.schema("src").dataType
    val schema = StructType(Seq(StructField("doc_id", id), StructField("cluster_id", id)))
    Loops.run(edges, schema) { loop =>
      loop.iterate(clusterLoop(loop), maxRounds).map { case (n, (l, _)) => Row(n, l) }
    }
  }

  /** The CC loop over the loop's input, symmetric (src, dst) edges:
    * (label, changed this round) per node, starting from label = node. */
  private[operators] def clusterLoop(loop: Loops.Loop): Loops.FixedPoint[Any, (Any, Boolean)] = {
    val ord = Loops.idOrdering("nearDupClusters", loop.input.schema("src").dataType)
    // SQL's min: nulls skipped
    def least(a: Any, b: Any): Any = if (a == null || (b != null && ord.gt(a, b))) b else a
    val part = loop.part
    val adj = loop.static(loop.rows.map(r => (r.get(0), r.get(1))))
    val links = adj.filter(_._1 != null)
    Loops.FixedPoint(
      adj.mapPartitions(_.map { case (n, _) => (n, (n, true)) }, preservesPartitioning = true)
        .reduceByKey(part, (a, _) => a),
      labels => {
        // (a) neighbor-min; (label, label before the round)
        val nbMin = links.join(labels, part)
          .map { case (_, (dst, (l, _))) => (dst, l) }
          .reduceByKey(part, least(_, _))
        val stepped = labels.leftOuterJoin(nbMin, part).mapValues { case ((label, _), m) =>
          (least(label, m.orNull), label)
        }
        // (b) pointer jump: every node asks its label's own row (labels are
        // node ids), and the answer comes back keyed by the asking node
        stepped.map { case (n, (label, old)) => (label, (n, old)) }.partitionBy(part)
          .join(stepped, part)
          .map { case (label, ((n, old), (jumped, _))) =>
            val next = if (jumped == null) label else jumped
            (n, (next, old == null || next != old))
          }
          .partitionBy(part)
      },
      Some(Loops.Read[(Any, Boolean)](
        v => (if (v._2) 1L else 0L, 0L), _._1 == 0L,
        (_, maxRounds) => s"nearDupClusters did not converge in $maxRounds rounds " +
          "(graph diameter > 2^rounds? raise maxRounds)")))
  }

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
    * rolling-hash fingerprinting family): hash every character k-gram of
    * the normalized text, slide a w-hash window, keep each window's
    * minimum, distinct the kept values. Guarantee: any shared substring of
    * length >= w + k - 1 between two documents contributes at least one
    * common fingerprint — the local-fingerprint property plagiarism/overlap
    * detectors rely on, at expected density 2/(w+1) of the gram count.
    *
    * Columnar notes: per-gram xxhash64 of a k-char slice is O(n·k) per doc
    * vs the textbook rolling hash's O(n) — k is a small constant (8) and a
    * per-character incremental fold would be an interpreted HOF over every
    * char, strictly worse in this engine. Each stage projects a column and
    * the next stage's lambdas reference only ATTRIBUTES (`norm`, `gh`) —
    * inlining `normalized(text)` into the gram lambda would re-run the
    * regex normalization once per gram (the O(n²) HOF-capture trap).
    *
    * The w-window sliding minimum is the native codegen
    * [[org.apache.spark.sql.graft.SlidingMin]] kernel: one monotonic-deque
    * pass, O(grams) total. (The former interpreted
    * `transform(sequence(...), j -> array_min(slice(gh, j, w)))` form paid
    * the lambda-interpreter constant x w per gram on every byte of the
    * corpus; DedupSpec pins bit-parity with it.) SlidingMin clamps the
    * window to min(w, n) and maps empty to empty, so all three size regimes —
    * n >= w, 0 < n < w (whole doc is the window), n == 0 — collapse into
    * one branch-free expression.
    *
    * Returns (id, fingerprints: array<bigint>, n_grams: int). */
  def winnowingFingerprintTable(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      w: Int = 8): DataFrame = {
    val grams = charGramHashes(docs, textCol, idCol, k)
    grams.select(col("id"),
      array_distinct(ArrayExpressions.slidingMin(col("gh"), w)).as("fingerprints"),
      size(col("gh")).as("n_grams"))
  }

  /** Hashed character k-grams of the normalized text: (id, gh:
    * array<bigint>). The winnowing building block, exposed so q57's
    * contract can verify fingerprint containment independently. Gram
    * hashing is the native codegen
    * [[org.apache.spark.sql.graft.CharGramHashes]] kernel (one char-boundary
    * byte walk, in-place XXH64 per gram, zero per-gram allocation) — the
    * interpreted `transform(sequence, xxhash64(substr))` form it replaced
    * was the dominant winnowing cost and survives as [[charGramHashesHof]]
    * for DedupSpec parity and q57's cross-implementation containment
    * check. */
  def charGramHashes(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8): DataFrame =
    docs.select(col(idCol).as("id"),
      ArrayExpressions.charGramHashes(
        TextFunctions.normalized(col(textCol)), k).as("gh"))

  /** The interpreted-HOF form of [[charGramHashes]], kept as the independent
    * reference implementation: DedupSpec pins bit-parity, and q57's bounded
    * containment re-derivation goes through THIS form so every gate run
    * cross-checks the native kernel against it. */
  private[graft] def charGramHashesHof(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8): DataFrame = {
    val normed = docs.select(col(idCol).as("id"),
      TextFunctions.normalized(col(textCol)).as("norm"))
    // sequence(1, stop) DESCENDS when stop < 1, so empty cases need guards
    normed.select(col("id"),
      when(length(col("norm")) >= k,
        transform(
          sequence(lit(1), length(col("norm")) - (k - 1)),
          i => xxhash64(col("norm").substr(i, lit(k)))))
        .otherwise(array().cast("array<bigint>")).as("gh"))
  }

  /** Passage-level near-dup pairs: documents sharing at least `minShared`
    * winnowing fingerprints — the bucket-join, Spark-native analogue of
    * suffix-array substring dedup over a training corpus (catching VERBATIM
    * passage reuse that whole-document Jaccard under-scores when the shared
    * passage is a small fraction of each doc). The winnowing guarantee
    * makes candidates complete for long matches: any shared normalized
    * substring of length >= k + w − 1 chars selects at least one common
    * fingerprint, so every pair sharing a passage that long IS a candidate
    * at minShared = 1; raising minShared trades the guarantee for
    * precision (more shared windows ≈ longer or repeated shared passages).
    *
    * Scale shape: explode the per-doc DISTINCT fingerprint arrays and
    * self-join on the fingerprint value — sub-quadratic exactly like the
    * LSH band buckets, with the same degenerate-bucket guard (a boilerplate
    * passage shared by millions of docs is THE common pathology here; drops
    * are logged, recall-only). The exploded frame — one (id, long) row per
    * fingerprint, ~1/w of the gram count — is the [[bucketPairs]] band
    * frame (its fill rule and lifecycle).
    *
    * Returns (id_a, id_b, n_shared_fp) with id_a < id_b. */
  def sharedFingerprintPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      w: Int = 8,
      minShared: Int = 2,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // batch self-dedup: spread so the char-gram walk + SlidingMin kernel
    // run at conf width, not on the scan's splits. explode_outer + the null
    // filter, not explode: the optimizer infers `size(fingerprints) > 0`
    // from a plain explode of the column and pushes it below the spread,
    // which ran the winnowing kernel twice per doc
    val fps = winnowingFingerprintTable(Layout.spread(docs, col(idCol)), textCol, idCol,
        k, w)
      .select(col("id"), explode_outer(col("fingerprints")).as("fph"))
      .filter(col("fph").isNotNull)
    bucketPairs(fps, Seq("fph"), maxBucket, "sharedFingerprintPairs") {
      _.groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .agg(count(lit(1)).as("n_shared_fp"))
        .filter(col("n_shared_fp") >= minShared)
    }
  }

  /** EXACT cross-document substring dedup (the Lee-et-al ExactSubstr
    * contract, distributed): every maximal verbatim span of length >=
    * `minLen` characters shared by two documents, with both start offsets
    * and the exact span length — no fingerprint sampling, no winnowing
    * density argument. [[sharedFingerprintPairs]] approximates this family
    * (it guarantees detection but reports fingerprint counts, not exact
    * extents); this operator IS the exact form.
    *
    * Algorithm — sorted-anchor + diagonal runs (the distributed equivalent
    * of a suffix-array scan): a shared span of length S >= L contributes
    * exactly S-L+1 matching L-gram anchors at consecutive positions on one
    * (doc_a, doc_b, pos_a - pos_b) diagonal, and conversely any maximal
    * consecutive anchor run of length m on a diagonal IS a maximal shared
    * span of length m+L-1. So: hash every L-char gram with its position
    * (codegen substring+xxhash64, O(n·L) char work — the winnowing
    * precedent: a rolling O(n) hash would be an interpreted per-char fold,
    * strictly worse here), keep only gram hashes seen in >= 2 distinct
    * docs (one map-side-combined aggregate; duplicated grams are a tiny
    * fraction of any real corpus, so the pair join's inputs collapse from
    * every position to just the shared ones), equi-join on the hash,
    * then detect consecutive runs per diagonal with the classic
    * pos - row_number() grouping — one window pass, keyed by the pair.
    *
    * Scale shape: one shuffle of (hash, id, pos) tuples (24 bytes per text
    * character) for the shared-hash aggregate + join — heavy but linear,
    * and the post-filter pair join touches only duplicated grams. The
    * output itself is the quadratic risk (m docs sharing one span emit
    * C(m,2) rows — intrinsic to exact pair reporting); `maxBucket > 0`
    * bounds a degenerate gram's bucket with logged, never silent, drops
    * (recall-only; default 0 = the exact contract). 64-bit hashing can in
    * principle alias two distinct grams (~1e-19 per pair); the DuckDB
    * oracle joins on the gram STRING, so any collision would surface as a
    * correctness mismatch rather than hide.
    *
    * Returns (doc_a, doc_b, start_a, start_b, span_len), doc_a < doc_b,
    * offsets 1-based, one row per MAXIMAL shared span (spans at different
    * alignments report separately, as a suffix array would). */
  def exactSubstrSpans(
      docs: DataFrame,
      minLen: Int = 40,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBucket: Int = 0): DataFrame =
    exactSubstrSpansFromGrams(
      exactSubstrGrams(Layout.spread(docs, col(idCol)), minLen, textCol, idCol),
      minLen, maxBucket)

  /** [[exactSubstrSpans]] over a gram frame of the [[exactSubstrGrams]]
    * shape (id, pos, gh), for callers that read the gram frame for their
    * own accounting beside the spans (q195's drop ledger) without paying
    * the explode twice: such a caller shares `grams` in its own
    * [[Materialize.shared]] scope around this call, which then leaves the
    * frame's cache to it. The result is materialized. */
  def exactSubstrSpansFromGrams(
      grams: DataFrame,
      minLen: Int,
      maxBucket: Int = 0): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // gram hashes present in >= 2 distinct docs: min != max avoids a
    // count(distinct) expansion; partial aggregation collapses each
    // partition's repeats before the shuffle
    val shared = grams.groupBy(col("gh"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gh"))
    // The candidate frame is shared by the self-join (r15): both join
    // sides referencing an un-materialized `cand` re-plan its whole
    // subtree — the shared-hash aggregate (a full gh shuffle of the gram
    // frame, the heaviest exchange here) and the prefilter join each ran
    // TWICE (verified in the executed plan: two ShuffleQueryStages for the
    // same min/max aggregate). Caching cand runs each once, and
    // bucketPairs reads the cache as it is; the cache holds only
    // duplicated-gram rows (a tiny fraction of any real corpus). At sf0.1
    // the A/B is a wash (3.74 vs 3.73 s min-of-3 — the duplicate aggregate
    // hides inside host noise at fixture scale); the win is the structural
    // one: one full-corpus-frame shuffle removed, which is what survives a
    // 100x scale-up.
    val cand = grams.join(shared, Seq("gh"))
    Materialize.shared(grams, cand) {
      bucketPairs(cand, Seq("gh"), maxBucket, "exactSubstrSpans") { j =>
        anchorSpans(j.select(col("l.id").as("doc_a"), col("r.id").as("doc_b"),
            col("l.pos").as("pos"), (col("l.pos") - col("r.pos")).as("diag")),
          Seq("doc_a", "doc_b"), minLen, "start_a", "start_b")
      }
    }
  }

  /** Maximal spans from matching L-gram anchors, the run step of every
    * exact-substring span operator: `anchors` holds the pair `keys`, `pos`
    * (a matching gram's start on the first side) and `diag` (`pos` minus
    * the gram's start on the other side). A shared span of length S is
    * S-L+1 anchors at consecutive positions on one (keys, diag) diagonal,
    * so pos - row_number() is constant along it: one window pass, keyed by
    * the diagonal. Returns the keys, the span's start on each side (named
    * `start` and `otherStart`) and span_len. */
  private def anchorSpans(anchors: DataFrame, keys: Seq[String], minLen: Int,
      start: String, otherStart: String): DataFrame = {
    val diagonal = (keys :+ "diag").map(col)
    val w = Window.partitionBy(diagonal: _*).orderBy(col("pos"))
    anchors.withColumn("run_id", col("pos") - row_number().over(w))
      .groupBy(diagonal :+ col("run_id"): _*)
      .agg(min(col("pos")).as(start), count(lit(1)).as("n_anchor"))
      .select(keys.map(col) ++ Seq(col(start), (col(start) - col("diag")).as(otherStart),
        (col("n_anchor") + (minLen - 1)).as("span_len")): _*)
  }

  /** The positional L-gram hash frame behind [[exactSubstrSpans]]: one row
    * (id, pos, gh) per L-char gram, gh = xxhash64 of the gram. PUBLIC so a
    * pipeline can PERSIST a corpus's gram index once (8-byte hashes, no
    * text) and run incremental cross-side span detection against it
    * ([[exactSubstrSpansAgainstIndex]]) — the exact-substring member of
    * the incremental-ingest family (q100 minhash, q161 media). A doc
    * shorter than minLen, or with a null text, has no gram row. Both sides
    * of a cross-side join must use the SAME minLen. */
  def exactSubstrGrams(
      docs: DataFrame,
      minLen: Int = 40,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // Gram hashing is the native CharGramHashes kernel (one byte walk per
    // doc, codegen, bit-identical to xxhash64(substring(t, pos, L))): the
    // former explode(sequence) + per-gram substring form paid
    // UTF8String.substring's O(position) char-boundary walk for EVERY gram
    // — O(chars²) bytes touched per doc. posexplode's 0-based index maps
    // to the same 1-based pos. Transient memory is the 8 B/char hash array
    // per row (the r13 scale-ramp's ~24 B/char gram-frame budget already
    // dominates it).
    //
    // Map-only, so the q197 decontamination gate's corpus side reaches a
    // BroadcastHashJoin with no corpus exchange; the span-family callers
    // spread their input first ([[Layout.spread]]): the q195 profile showed
    // the whole gram derivation running ~500-800 ms single-task per
    // consumer, and the ~1 byte/char text exchange is small next to the
    // ~24 byte/char gram frame they shuffle downstream anyway.
    docs.select(col(idCol).cast("long").as("id"),
        posexplode(ArrayExpressions.charGramHashes(col(textCol), minLen)))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gh"))
  }

  /** Cross-side exact-substring spans: every maximal verbatim >=minLen-char
    * span between an INDEXED corpus (a persisted [[exactSubstrGrams]]
    * frame — typically yesterday's parquet) and an incoming probe batch —
    * incremental ExactSubstr decontamination/dedup at ingestion: work is
    * O(batch grams x bucket occupancy), the historical corpus contributes
    * a scan of 8-byte hash tuples, and NO within-side pairs are computed.
    * Same diagonal-run construction as [[exactSubstrSpans]], on the
    * [[bucketPairs]] cross join with the probe as the other side;
    * `maxBucket` caps the INDEX side's degenerate grams (logged,
    * recall-only, the [[signatureHammingJoin]] convention). Returns
    * (index_id, probe_id, start_i, start_p, span_len), offsets 1-based. */
  def exactSubstrSpansAgainstIndex(
      index: DataFrame,
      probe: DataFrame,
      minLen: Int = 40,
      maxBucket: Int = 0): DataFrame =
    bucketPairs(index, Seq("gh"), maxBucket, "exactSubstrSpansAgainstIndex", Some(probe)) { j =>
      anchorSpans(j.select(col("l.id").as("index_id"), col("r.id").as("probe_id"),
          col("l.pos").as("pos"), (col("l.pos") - col("r.pos")).as("diag")),
        Seq("index_id", "probe_id"), minLen, "start_i", "start_p")
    }

  /** WITHIN-document exact repeated spans — the self-repetition case of
    * the ExactSubstr family (Lee et al. dedup repeated substrings inside
    * one document: boilerplate stutter, copy-paste loops, generation
    * artifacts; [[CorpusStats.repetitionStats]] sees token-level repeat
    * RATES, this finds the exact character spans): every maximal pair of
    * positions (start_1 < start_2) in one doc whose >=minLen-char
    * substrings are verbatim equal. Same anchor + diagonal-run
    * construction as [[exactSubstrSpans]], with the pair join keyed by
    * (id, gh) and the prefilter keeping only grams repeated WITHIN their
    * doc — so unique text never reaches the self-join. Overlapping pairs
    * (start_2 < start_1 + L, period < L text like "aaaa…") are reported
    * as-is: a period-d repeat IS a verbatim repeat at offset d.
    *
    * Returns (idCol, start_1, start_2, span_len), offsets 1-based, one
    * row per maximal (diag = start_2 - start_1) run. */
  def selfRepeatSpans(
      docs: DataFrame,
      minLen: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val L = minLen
    val grams = exactSubstrGrams(Layout.spread(docs, col(idCol)), L, textCol, idCol)
    val rep = grams.groupBy(col("id"), col("gh"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("id"), col("gh"))
    // shared for the same reason as exactSubstrSpans' cand: both self-
    // join sides would otherwise re-run the repeated-gram aggregate
    val cand = grams.join(rep, Seq("id", "gh"))
    Materialize.shared(grams, cand) {
      val anchors = cand.as("a").join(cand.as("b"),
          col("a.id") === col("b.id") && col("a.gh") === col("b.gh") &&
            col("a.pos") < col("b.pos"))
        .select(col("a.id").as("id"), col("a.pos").as("pos"),
          (col("a.pos") - col("b.pos")).as("diag"))
      anchorSpans(anchors, Seq("id"), L, "start_1", "start_2").withColumnRenamed("id", idCol)
    }
  }

  /** Map-side existence test for an internal verbatim repeat: TRUE iff some
    * minLen-gram occurs at two positions of `text` — [[selfRepeatSpans]]'s
    * IFF without the extents. All the evidence lives inside the single row
    * (a doc's grams are substrings of its own text), so this is a pure
    * projection — transform + array_distinct over the row's own gram
    * hashes, zero shuffle — where the grouped-count form shuffles ~one row
    * per distinct (doc, gram), i.e. the corpus's whole character mass, to
    * answer a per-doc boolean. At 100 TB that is the difference between a
    * map-only scan and the heaviest exchange in the job. Same hash space
    * as [[exactSubstrGrams]] (xxhash64 of the positional gram), so
    * collision behavior matches the frame-based operators; transient
    * per-row memory is 8 bytes per character (the long hash array). Docs
    * shorter than minLen+1 chars have at most one gram and return false
    * (the when-guard also keeps `sequence` from its descending-range
    * form on negative spans).
    *
    * Memory guard: that 8-bytes-per-character transient concentrates on
    * ONE task, so a single pathological multi-hundred-MB document would
    * pin gigabyte-scale memory on one executor. Docs longer than
    * `maxInlineChars` (default 4M chars = a 32 MB hash array, generous for
    * any web document) return NULL — the caller routes them through
    * [[internalRepeatOverflow]], whose memory spreads across a shuffle,
    * and coalesces the two columns (Coalesce short-circuits, so the inline
    * array is never built for a row the overflow side answered). */
  def hasInternalRepeat(
      text: org.apache.spark.sql.Column,
      minLen: Int = 20,
      maxInlineChars: Int = DefaultMaxInlineRepeatChars): org.apache.spark.sql.Column = {
    val n = length(text) - (minLen - 1)
    // gram hashing rides the native CharGramHashes kernel (one byte walk,
    // codegen, bit-identical to xxhash64(substring(...))): the former
    // transform(sequence, i -> xxhash64(substring(text, i, L))) form paid
    // UTF8String.substring's O(position) char-boundary walk PER GRAM —
    // O(n^2) bytes touched per doc, invisible on 300-char fixture rows and
    // ruinous at the inline cutoff (a 4M-char doc would walk ~10^13 bytes)
    // The split predicate is CHARACTER count (matching the parameter's
    // documented contract), not gram-start count — it must stay identical
    // to internalRepeatOverflow's filter so the split is gapless.
    when(length(text) > maxInlineChars, lit(null).cast("boolean"))
      .when(n > 1,
        size(array_distinct(ArrayExpressions.charGramHashes(text, minLen))) < n)
      .otherwise(lit(false))
  }

  /** The inline-vs-overflow split point for [[hasInternalRepeat]]: 4M
    * chars ~ 32 MB of transient hash array per task. */
  val DefaultMaxInlineRepeatChars: Int = 4 * 1024 * 1024

  /** The shuffle-side complement of [[hasInternalRepeat]] for documents
    * past its inline cutoff: (idCol, has_repeat) for every doc whose text
    * exceeds `maxInlineChars`. Returns an EMPTY frame on any non-pathological
    * corpus — broadcast-left-join it and coalesce with the inline column,
    * so the common path stays a map-only projection and only the rare
    * giant pays a shuffle.
    *
    * Bounded memory AND linear time: the doc is cut into `segLen`-stride
    * slices (each slice carries minLen-1 extra chars so every gram start
    * position lands in exactly one slice — no double-count, no gap), slices
    * explode to rows BEFORE gram hashing, so per-task transient memory is
    * O(segLen), not O(doc); each slice is cut ONCE (one O(doc) boundary
    * walk per slice — O(doc²/segLen) total, ~10^10 bytes for a 4M-char doc
    * at the default segLen, vs the per-gram-substring form's 10^13) and
    * gram-hashed by the native CharGramHashes kernel in one pass. Repeats
    * that span different slices still collapse in the per-(doc, gram-hash)
    * count, which is global across slices. */
  def internalRepeatOverflow(
      docs: DataFrame,
      minLen: Int = 20,
      maxInlineChars: Int = DefaultMaxInlineRepeatChars,
      segLen: Int = 1024 * 1024,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val txt = col(textCol)
    val n = length(txt) - (minLen - 1) // gram start positions: 1..n
    // character-count split, the exact complement of hasInternalRepeat's
    // inline predicate (gapless by construction)
    docs.filter(length(txt) > maxInlineChars)
      .select(col(idCol), txt.as("_t"), n.cast("int").as("_n"))
      // slice s covers gram starts [s*segLen+1, (s+1)*segLen]; floor() on
      // the division — plain `/` on ints is double division in Spark SQL
      .select(col(idCol), col("_t"),
        explode(sequence(lit(0),
          floor((col("_n") - 1) / lit(segLen)).cast("int"))).as("_s"))
      // one substring per SLICE (covers its segLen gram starts plus the
      // minLen-1 overlap chars), then the kernel hashes every gram of the
      // slice in one walk; the final slice is naturally shorter and the
      // kernel emits exactly its remaining grams
      .select(col(idCol),
        explode(ArrayExpressions.charGramHashes(
          col("_t").substr(col("_s") * lit(segLen) + lit(1),
            lit(segLen + minLen - 1)), minLen)).as("_gh"))
      .groupBy(col(idCol), col("_gh")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max(col("_c") > 1).as("has_repeat"))
  }

  /** Per-document duplicated-character coverage from EXACT shared spans —
    * the decision layer over [[exactSubstrSpans]]: how much of each doc is
    * verbatim-shared with some other doc, the number a Lee-et-al-style
    * ExactSubstr pipeline thresholds to trim or drop. ([[dupSpanCoverage]]'s
    * exact counterpart — that one rides winnowing fingerprints.)
    *
    * Span intervals from both sides of every pair union (distinct), then a
    * classic sweep merges overlaps WITHOUT materializing per-char rows: per
    * doc ordered by (start, end), each interval contributes
    * max(0, end - max(start, max-prior-end)) — one window partitioned by
    * doc (bounded by the doc's span count, never a global sort) + one
    * partial-aggregated sum. Integers end to end; the one division (the
    * coverage fraction) happens at the output edge, 6-dp-rounded.
    *
    * Returns (idCol, n_chars, covered_chars, coverage) for EVERY doc,
    * zero-filled. */
  def exactSubstrCoverage(
      docs: DataFrame,
      minLen: Int = 40,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBucket: Int = 0): DataFrame = {
    val spans = exactSubstrSpans(docs, minLen, textCol, idCol, maxBucket)
    val iv = spans.select(col("doc_a").as("id"), col("start_a").as("s"),
        (col("start_a") + col("span_len")).as("e"))
      .unionByName(spans.select(col("doc_b").as("id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e")))
      .distinct()
    val w = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = iv.withColumn("pm", max(col("e")).over(w))
      .withColumn("inc", greatest(lit(0L),
        col("e") - greatest(col("s"), coalesce(col("pm"), lit(0L)))))
      .groupBy(col("id")).agg(sum(col("inc")).as("covered"))
    docs.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(cov.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("covered"), lit(0L)).as("covered_chars"),
        when(col("n_chars") > 0L,
          round(coalesce(col("covered"), lit(0L)).cast("double") / col("n_chars"), 6))
          .otherwise(lit(0.0)).as("coverage"))
  }

  /** 64-bit SimHash over whitespace tokens: bit i of the fingerprint is the
    * sign of sum over tokens of (+1/-1 from bit i of xxhash64(token)).
    * Per-row column form; corpus scans should use [[simhashTable]]
    * (identical values, one token hash per token instead of 64 interpreted
    * folds per row). */
  def simhash(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val bitSums = (0 until 64).map { bit =>
      aggregate(toks, lit(0L),
        (acc, tk) => acc + when(
          (shiftright(xxhash64(tk), bit).bitwiseAND(lit(1L))) === 1L, 1L).otherwise(-1L))
    }
    simhashFromBitSums(bitSums)
  }

  private def simhashFromBitSums(bitSums: Seq[Column]): Column =
    (0 until 64).map { bit =>
      when(bitSums(bit) > 0L, lit(if (bit == 63) Long.MinValue else 1L << bit))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** SimHash for a whole corpus: explode tokens, hash each token ONCE, 64
    * codegen'd conditional-sum aggregates (map-side combined), one shuffle
    * on the doc id — the scale form of [[simhash]], bit-identical output.
    * Returns (id, simhash: bigint). */
  def simhashTable(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // One map-only pass: the native SimHash64 kernel tokenizes, hashes and
    // majority-votes per ROW inside whole-stage codegen — no token explode,
    // no 64-column groupBy, no shuffle (the former explode/groupBy form's
    // only shuffle; bit-parity with it and with [[simhash]] is pinned in
    // DedupSpec). coalesce replicates the old explode_outer null fold:
    // NULL text -> every bit sums to -1 -> fingerprint 0.
    docs.select(col(idCol).as("id"),
      coalesce(org.apache.spark.sql.graft.ArrayExpressions.simhash64(col(textCol)),
        lit(0L)).as("simhash"))
  }

  /** SimHash candidates refined with exact shingle-Jaccard — the SimHash
    * analogue of [[minhashNearDups]]. The Jaccard join touches only pairs
    * that agreed on a fingerprint block; `blocks` bounds guaranteed recall
    * (hamming <= blocks-1 always shares a block, by pigeonhole). blocks=6
    * catches hamming <= 5, which covers near-dup fingerprint drift on short
    * documents where 4 blocks demonstrably miss.
    *
    * CONTRACT NOTE: the recall guarantee is in HAMMING space, not Jaccard
    * space. On short documents (few tokens), per-bit sign margins are thin
    * and a handful of token edits can flip 6-9 bits (measured: hamming 9 at
    * jaccard 0.889 on ~10-token docs) — such pairs are legitimately outside
    * the blocks=6 guarantee. Widening blocks to cover them would admit
    * ~blocks*2^(-64/blocks) of ALL pairs as random candidates (15% at
    * blocks=10) — a scale non-starter. When Jaccard-threshold COMPLETENESS
    * matters, use [[ensembleNearDups]]. */
  def simhashNearDups(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      blocks: Int = 6,
      shingle: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    // A shared block only GUARANTEES capture up to hamming blocks-1, so
    // bounding candidates at that bound loses nothing the operator promises
    // — and it removes virtually all random block collisions (hamming ~32
    // for unrelated 64-bit fingerprints) before they ever reach the
    // candidate distinct, let alone the expensive shingle join.
    val cands = Materialize.shared()(simhashCandidates(docs, textCol, idCol, blocks,
        maxBucket, maxHamming = blocks - 1).select(col("id_a"), col("id_b")))
    refineByJaccard(docs, cands, threshold, textCol, idCol, shingle)
  }

  /** Ensemble near-duplicate pairs: the union of MinHash-banding and
    * SimHash-block candidates, refined once with exact shingle-Jaccard at
    * `threshold`. The two generators fail differently — banding misses when
    * few-shingle signature variance defeats all bands, block-match misses
    * when short-doc bit noise exceeds blocks-1 hamming — so the union's
    * recall strictly dominates either alone while staying sub-quadratic
    * (both candidate sets are bucket joins; the refinement runs once over
    * the distinct union). This is the belt-and-suspenders shape production
    * dedup pipelines run at corpus scale. */
  def ensembleNearDups(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      blocks: Int = 7,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket,
      simhashMaxBucket: Int = 0,
      blockMatches: Int = 2): DataFrame = {
    // MEASURED NON-OPTIMIZATION (sf0.1, 100k docs): caching the (id, text)
    // projection to share it across the three consumers (minhash signatures,
    // simhash fingerprints, refinement shingles) made the whole operator
    // 2.4x SLOWER (6.1 s cached vs 2.5 s re-scanning; PROFILING.md "q47
    // ensemble near-dups") — the columnar cache write of corpus text costs
    // far more than the extra parquet scans it saves, and the same holds at
    // cluster scale where a corpus-sized cache spills to disk. The consumers
    // therefore re-scan parquet (cheap, pushed-down, two columns); only the
    // SMALL derived frames (signature table, candidate pairs) are persisted,
    // inside the generators.
    val mh = minhashCandidates(docs, textCol, idCol, k, bands, shingle, maxBucket)
    // hamming <= blocks - blockMatches keeps exactly what the simhash side
    // GUARANTEES (pigeonhole over the multi-index tables — see
    // [[simhashCandidates]]): random collisions sit at hamming ~32 and
    // would otherwise drag corpus-sized shingle arrays through the
    // refinement join for nothing — the minhash side owns everything beyond
    // the hamming bound. Defaults blocks=7/blockMatches=2 give the SAME
    // hamming<=5 recall bound as the former blocks=6 single-block banding,
    // but with 18-bit table keys instead of 10-bit: at 100k docs that is
    // ~0.4M background candidate pairs instead of ~29M (measured 3.7 s ->
    // sub-second for the candidate stage). The simhash cap defaults OFF
    // (see [[simhashCandidates]]) — its buckets grow by background
    // collision, not similarity, so a fixed cap cuts guaranteed pairs on
    // normal data.
    val sh = simhashCandidates(docs, textCol, idCol, blocks, simhashMaxBucket,
        blockMatches, maxHamming = blocks - blockMatches)
      .select(col("id_a"), col("id_b"))
    // the minhash side is already checkpointed by its generator; the
    // simhash bucket self-join must not re-run per refinement reader
    val cands = Materialize.shared()(mh.union(sh).distinct())
    refineByJaccard(docs, cands, threshold, textCol, idCol, shingle)
  }

  /** Near-dup candidates by SimHash block match: split the 64-bit fingerprint
    * into `blocks` equal bit-blocks; docs agreeing on any block are candidates
    * (Hamming distance < blocks guarantees at least one exact block match).
    *
    * `maxBucket` defaults OFF here, unlike the minhash/embedding generators:
    * their buckets fill by SIMILARITY (background collision ~1e-4), so a
    * big bucket means degenerate near-identical docs and capping loses
    * nothing healthy — but a simhash block key is only 64/blocks bits wide,
    * so bucket occupancy grows as n/2^width by BACKGROUND collision alone
    * (measured: 1,176 of 5,000 docs sharing one 10-bit (block, key) on the
    * ordinary sf0.1 fixture). A fixed cap here cuts hamming-guaranteed
    * pairs on perfectly normal corpora long before true degeneracy. The
    * quadratic protections for this generator at scale are the ones already
    * in place — exact-dedup first (identical docs collapse before banding),
    * the hamming prefilter before the expensive refinement, and sizing
    * `blocks` to the corpus (wider keys = fewer background collisions) —
    * plus this cap opt-in for corpora known to contain giant near-identical
    * cohorts. */
  def simhashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blocks: Int = 4,
      maxBucket: Int = 0,
      matchBlocks: Int = 1,
      maxHamming: Int = Int.MaxValue): DataFrame =
    signatureHammingPairs(
      // batch self-dedup: the fingerprint byte walk runs at conf width
      simhashTable(Layout.spread(docs, col(idCol)), textCol, idCol), "id", "simhash",
      blocks, maxBucket, matchBlocks, maxHamming)

  /** Hamming-bounded pairs over ANY 64-bit signature frame — the banded
    * self-join [[simhashCandidates]] is built on, factored out so other
    * fingerprint families (image perceptual hashes, audio fingerprints)
    * reuse the same pigeonhole machinery instead of reinventing it. Returns
    * (id_a, id_b, hamming) with id_a < id_b. Completeness: every pair at
    * hamming <= blocks - matchBlocks is guaranteed present (Manku et al.
    * multi-index pigeonhole); `maxHamming` within that bound is exact. The
    * join is [[bucketPairs]] over [[hammingBands]] (its fill rule and
    * lifecycle). */
  def signatureHammingPairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      blocks: Int = 4,
      maxBucket: Int = 0,
      matchBlocks: Int = 1,
      maxHamming: Int = Int.MaxValue): DataFrame =
    bucketPairs(hammingBands(sigs, idCol, sigCol, blocks, matchBlocks), Seq("block", "key"),
        maxBucket, "signatureHammingPairs") {
      hammingWithin(_, "id_a", "id_b", maxHamming)
    }

  /** Cross-frame variant of [[signatureHammingPairs]]: hamming-bounded
    * (probe_id, index_id) matches between a PROBE batch and a (typically
    * persisted) INDEX frame — the incremental-ingest shape. Both sides band
    * at lookup time (banding is a cheap per-row bit projection; what index
    * persistence saves is the expensive signature COMPUTATION — the
    * decode/hash pass over the historical corpus). Work is O(probe rows x
    * bucket occupancy), never O(index^2): only buckets a probe row touches
    * are read. Same pigeonhole completeness bound as the self-join
    * (hamming <= blocks - matchBlocks). Both frames must carry
    * (idCol, sigCol). `maxBucket` caps the INDEX side (the corpus, whose
    * degenerate buckets would blow up the join); the probe batch is
    * small. */
  def signatureHammingJoin(
      probe: DataFrame,
      index: DataFrame,
      idCol: String,
      sigCol: String,
      blocks: Int = 4,
      maxBucket: Int = 0,
      matchBlocks: Int = 1,
      maxHamming: Int = Int.MaxValue): DataFrame =
    bucketPairs(hammingBands(index, idCol, sigCol, blocks, matchBlocks), Seq("block", "key"),
        maxBucket, "signatureHammingJoin",
        Some(hammingBands(probe, idCol, sigCol, blocks, matchBlocks))) {
      hammingWithin(_, "index_id", "probe_id", maxHamming)
        .select("probe_id", "index_id", "hamming")
    }

  /** The multi-index band table of a 64-bit signature frame: one (id, sim,
    * block, key) row per table. matchBlocks = 1: classic single-block
    * banding ("block" = block index, "key" = that block's bits).
    * matchBlocks = r > 1: the multi-index Hamming scheme (the simhash-dedup
    * table construction of Manku et al., WWW'07 §3): one table per
    * r-combination of blocks, key = the combination's bits packed side by
    * side. Pigeonhole: hamming <= blocks - r touches at most blocks - r
    * blocks, so some r untouched blocks — i.e. some table — matches
    * exactly. Same recall bound as single-block banding with
    * (blocks - r + 1) blocks, but the key is r x width bits WIDE:
    * background-collision occupancy drops from n/2^width to
    * n/2^(r*width), which is what keeps the self-join sub-quadratic on
    * corpora big enough that 2^width << n (measured at n = 100k docs:
    * blocks=6/r=1 generates ~29M background pairs, 3.7 s; blocks=7/r=2
    * ~0.4M, sub-second — same hamming<=5 guarantee). */
  private def hammingBands(sigs: DataFrame, idCol: String, sigCol: String,
      blocks: Int, matchBlocks: Int): DataFrame = {
    val width = 64 / blocks
    require(matchBlocks >= 1 && matchBlocks <= blocks,
      s"matchBlocks must be in [1, $blocks], got $matchBlocks")
    // Full 64-bit packed keys (matchBlocks * width == 64) are fine: the key
    // is only ever compared for EQUALITY (join + groupBy), so packing into
    // the sign bit is harmless — the bound exists only to reject widths the
    // shift arithmetic cannot produce.
    require(matchBlocks * width <= 64,
      s"combined key width ${matchBlocks * width} exceeds 64 bits")
    val blockKey = (b: Int) =>
      shiftrightunsigned(col("sim"), b * width).bitwiseAND(lit((1L << width) - 1))
    val tables: Seq[Column] =
      if (matchBlocks == 1)
        (0 until blocks).map(b => struct(lit(b).as("block"), blockKey(b).as("key")))
      else
        (0 until blocks).combinations(matchBlocks).toSeq.zipWithIndex.map {
          case (combo, ci) =>
            val packed = combo.zipWithIndex.map { case (b, pos) =>
              shiftleft(blockKey(b), pos * width)
            }.reduce(_.bitwiseOR(_))
            struct(lit(ci).as("block"), packed.as("key"))
        }
    sigs.select(col(idCol).as("id"), col(sigCol).as("sim"))
      .select(col("id"), col("sim"), explode(array(tables: _*)).as("t"))
      .select(col("id"), col("sim"), col("t.block").as("block"), col("t.key").as("key"))
  }

  /** The Hamming pair step over band-joined rows: (l.id as `lId`, r.id as
    * `rId`, hamming) at hamming <= maxHamming, each pair once. hamming is
    * computed BEFORE the distinct and the bound applied there too: bit_count
    * per joined row is trivial, while the distinct is a full shuffle of the
    * candidate set — at n = 100k docs the multi-index background pair
    * volume is ~0.4M rows, of which only a few thousand survive a
    * hamming <= blocks-r cut, so a caller that wants hamming-bounded pairs
    * (the ensemble does) passes maxHamming and the shuffle sees the few
    * thousand. hamming is a pure function of the pair, so distinct over
    * (id_a, id_b, hamming) dedups exactly as over (id_a, id_b). */
  private def hammingWithin(joined: DataFrame, lId: String, rId: String,
      maxHamming: Int): DataFrame =
    joined.select(col("l.id").as(lId), col("r.id").as(rId),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** Sequence near-dup pairs over per-frame 64-bit signatures (video dedup):
    * two sequences match iff they have the SAME length and EVERY aligned
    * frame pair sits at hamming <= maxHamming; the returned `max_hamming`
    * is the worst aligned frame distance. Returns
    * (id_a, id_b, n_frames, max_hamming) with id_a < id_b.
    *
    * Scale shape: candidates come from the banded self-join on FRAME 0
    * only — complete, because a qualifying pair's frame-0 distance is <=
    * maxHamming by definition, and [[signatureHammingPairs]] is
    * pigeonhole-complete to blocks - matchBlocks >= maxHamming. The
    * refinement then touches candidate pairs x frames rows via one
    * (id, frame_no)-keyed join — never all-pairs, never all-frames of
    * non-candidates. `frames` must carry (idCol, frameCol, nCol, sigCol);
    * frame numbers are 0-based and dense. */
  def frameSequencePairs(
      frames: DataFrame,
      idCol: String = "asset_id",
      frameCol: String = "frame_no",
      nCol: String = "n_frames",
      sigCol: String = "ahash",
      blocks: Int = 4,
      maxBucket: Int = 0,
      matchBlocks: Int = 1,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= blocks - matchBlocks,
      s"maxHamming=$maxHamming exceeds the banding completeness bound " +
        s"${blocks - matchBlocks}; raise blocks or lower maxHamming")
    // The signature table is referenced THREE times (frame-0 candidates +
    // both refinement sides); computing frame signatures usually means
    // decoding media, so the table is shared.
    val sigs = frames.select(col(idCol).as("fid"), col(frameCol).as("fno"),
      col(nCol).as("nf"), col(sigCol).as("sig"))
    Materialize.shared(sigs) {
      // materialized first, so the band scan is the one reader that fills
      // the table: three readers in one plan would each run a fill job
      val cand = Materialize.shared()(signatureHammingPairs(
          sigs.filter(col("fno") === 0), "fid", "sig",
          blocks, maxBucket, matchBlocks, maxHamming))
        .select(col("id_a"), col("id_b"))
      val a = sigs.select(col("fid").as("id_a"), col("fno"),
        col("sig").as("sig_a"), col("nf").as("nf_a"))
      val b = sigs.select(col("fid").as("id_b"), col("fno"),
        col("sig").as("sig_b"), col("nf").as("nf_b"))
      cand.join(a, "id_a").join(b, Seq("id_b", "fno"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(
          max(bit_count(col("sig_a").bitwiseXOR(col("sig_b")))).as("max_hamming"),
          count(lit(1)).as("aligned"),
          max(col("nf_a")).as("nf_a"), max(col("nf_b")).as("nf_b"))
        // equal length AND every frame aligned AND every aligned pair close
        .filter(col("nf_a") === col("nf_b") && col("aligned") === col("nf_a") &&
          col("max_hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("nf_a").as("n_frames"),
          col("max_hamming"))
    }
  }

  /** Incremental near-dup cluster maintenance: fold a new batch's pairs
    * into an existing labeling WITHOUT re-walking the old pair graph.
    *
    * The old labeling is re-expressed as STAR edges (doc → its cluster id;
    * cluster ids are member doc ids, so these are ordinary graph edges) and
    * unioned with the new pairs (in-batch + corpus×batch). Connected
    * components over (stars ∪ new pairs) equal components over (old pairs ∪
    * new pairs): every old cluster is connected through its star center,
    * and new pairs add exactly the new adjacency — so the merged labels are
    * IDENTICAL to a full re-cluster (pinned by q116's exhaustive-closure
    * oracle), while the edge volume is O(corpus + new pairs) instead of
    * O(all pairs), and the stars' diameter-2 shape converges in ~2
    * pointer-jump rounds. This is the companion to [[incrementalVerdicts]]:
    * that answers "is the incoming doc new?", this keeps the cluster map
    * current after the batch is admitted. */
  def mergeClusters(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      idColA: String = "id_a",
      idColB: String = "id_b",
      idCol: String = "doc_id",
      clusterCol: String = "cluster_id"): DataFrame = {
    val starPairs = oldLabels
      .filter(col(idCol) =!= col(clusterCol)) // self-stars add nothing
      .select(col(idCol).as(idColA), col(clusterCol).as(idColB))
    nearDupClusters(starPairs.unionByName(newPairs.select(col(idColA), col(idColB))),
      idColA, idColB)
  }

  // -------------------------------------------------- incremental ingest

  /** One (id, band, bucket) row per MinHash band of each document — the
    * LSH bucketing shared by [[minhashCandidates]], [[crossCandidates]]
    * and the streaming fuzzy gate ([[Decontamination.fuzzyHits]]). Pure
    * per-row expressions (signature kernel + per-band xxhash64 +
    * posexplode), so it is legal on STREAMING frames too. */
  private[operators] def bandedSignatures(docs: DataFrame, textCol: String,
      idCol: String, k: Int, bands: Int, shingle: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val sig = minhashSignatureTable(docs, textCol, idCol, k, shingle)
    sig.select(col("id"), posexplode(
      array((0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1))): _*)
      }: _*)).as(Seq("band", "bucket")))
  }

  /** Cross-corpus LSH candidates: (corpus id, incoming id) pairs that share
    * a MinHash band bucket. Unlike [[minhashCandidates]]' self-join, each
    * side is banded separately and joined corpus-against-incoming only —
    * the candidate set scales with |incoming| × collision rate, never with
    * |corpus|², which is what makes re-deduplicating a 100 TB corpus on
    * every ingest batch unnecessary. The join is [[bucketPairs]] (its fill
    * rule and lifecycle). */
  def crossCandidates(
      corpus: DataFrame,
      incoming: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    // cap only the corpus side: it is the one that grows without bound
    bucketPairs(bandedSignatures(corpus, textCol, idCol, k, bands, shingle),
        Seq("band", "bucket"), maxBucket, "crossCandidates",
        Some(bandedSignatures(incoming, textCol, idCol, k, bands, shingle))) {
      _.select(col("l.id").as("id_a"), col("r.id").as("id_b")).distinct()
    }

  /** Cross-corpus near-dup PAIRS at `threshold`: candidates from
    * [[crossCandidates]] (corpus×incoming only), refined with exact
    * shingle-Jaccard. (id_a = corpus doc, id_b = incoming doc.) The
    * pair-level companion to [[incrementalVerdicts]], for callers that
    * need the edges (e.g. [[mergeClusters]]), not just verdicts. Also the
    * FUZZY-decontamination primitive (q180): with `incoming` = a held-out
    * benchmark, every hit is a training document that near-duplicates an
    * eval item — overlap q62's exact n-gram gate cannot see once the text
    * is paraphrased or re-wrapped. */
  def crossNearDups(
      corpus: DataFrame,
      incoming: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    refineByJaccard(
      corpus.select(col(idCol), col(textCol))
        .unionByName(incoming.select(col(idCol), col(textCol))),
      crossCandidates(corpus, incoming, textCol, idCol, k, bands, shingle,
        maxBucket),
      threshold, textCol, idCol, shingle)

  /** Flag the canonical member of each near-dup cluster: the member a
    * production pipeline KEEPS. Highest score wins; ascending id breaks
    * ties deterministically. `members` = (id, cluster, score, ...); one
    * cluster-keyed window pass, no self-join. This replaces min-id
    * canonicalization ([[nearDupClusters]]' label) as the keep-policy:
    * the label is for identity, the score is for survival. */
  def canonicalByScore(members: DataFrame, scoreCol: String,
      idCol: String = "doc_id", clusterCol: String = "cluster_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    members.withColumn("is_canonical", row_number().over(w) === 1)
  }

  /** Ingest-time verdict for each incoming document against an existing
    * corpus: `exact_dup` (verbatim text already present — md5 semi-join),
    * `near_dup` (shares a band bucket with a corpus doc and refines to
    * Jaccard >= threshold; the max such Jaccard is reported), else
    * `accepted`. The shape a production pipeline runs per batch: every
    * join is keyed by content hash or LSH bucket, the corpus is never
    * pairwise-compared with itself, and the text of corpus docs is only
    * read for the (tiny) candidate set. */
  def incrementalVerdicts(
      corpus: DataFrame,
      incoming: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val exact = incoming
      .join(corpus.select(md5(col(textCol)).as("__h")).distinct(),
        md5(incoming(textCol)) === col("__h"), "left_semi")
      .select(col(idCol), lit("exact_dup").as("__verdict"))
    val near = crossNearDups(corpus, incoming, threshold, textCol, idCol, k, bands,
        shingle, maxBucket)
      .groupBy(col("id_b").as(idCol))
      .agg(max(col("jaccard")).as("best_jaccard"))
    incoming.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__verdict"),
          when(col("best_jaccard").isNotNull, lit("near_dup"))
            .otherwise(lit("accepted"))).as("verdict"),
        when(col("__verdict").isNull, col("best_jaccard")).as("best_jaccard"))
  }
}
