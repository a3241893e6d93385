package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Streaming near-duplicate detection at ingestion — the LSH analogue of
  * [[Dedup.exactStreaming]]: each arriving document is routed to its
  * MinHash band bucket (the SAME bucket formula as the batch
  * [[Dedup.minhashCandidates]]), and keyed state holds the bucket's first
  * claimant's shingle-hash set; later arrivals in the bucket are refined
  * with EXACT Jaccard over the hash sets and flagged when at or above the
  * threshold. Bucket collisions therefore cost one refinement, never a
  * false flag.
  *
  * This is the single-probe variant: one band per document, so recall
  * against the threshold is the band-agreement probability j^r (r = k/bands
  * signature rows per band; ~0.66 at j = 0.9 with the default r = 4).
  * Production recall composes exactly like batch LSH: run b independent
  * instances with band = 0..b-1 (or lower r) for 1-(1-j^r)^b. The per-doc
  * signature is the native [[org.apache.spark.sql.graft.MinHashSignature]]
  * kernel — per-row, no corpus aggregation — which is what makes the
  * per-event shape affordable at ingestion rates.
  *
  * State is one (owner id, owner hash set) per occupied bucket — pass a
  * `ttl` to bound it by the dedup horizon (requires processing-time mode,
  * enabled automatically); TTLConfig.NONE keeps claimants forever, the
  * whole-corpus semantics.
  */
object StreamingDedup {

  final case class DocIn(id: String, text: String, bucket: Long)

  /** One verdict per document: `near_dup` with the owning doc and the
    * exact Jaccard when flagged; `jaccard` is vs the bucket owner (0.0
    * when the doc claimed an empty bucket). */
  final case class Verdict(id: String, near_dup: Boolean, dup_of: Option[String], jaccard: Double)

  /** A bucket's claimant, the keyed state. Package-private, not
    * `private`: scalac marks a `private` nested class private in its
    * InnerClasses entry, and Janino honors that flag, so the generated
    * state serializer could neither call `id()` nor the constructor and
    * Spark fell back to interpreting the encoder on every batch. */
  private[operators] final case class Owner(id: String, hashes: Array[Long])

  /** Distinct sorted shingle hashes of a document — the set the exact
    * Jaccard refinement runs on (same hashes as the batch refinement's
    * shingle strings, minus the strings). */
  private[operators] def hashSet(text: String, shingle: Int): Array[Long] = {
    val raw = org.apache.spark.sql.graft.WordShingleHashes
      .compute(UTF8String.fromString(text), shingle).toLongArray()
    if (raw.isEmpty) return raw
    java.util.Arrays.sort(raw)
    var w = 1
    var i = 1
    while (i < raw.length) {
      if (raw(i) != raw(w - 1)) { raw(w) = raw(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(raw, w)
  }

  /** Exact Jaccard of two sorted distinct arrays, one merge walk. */
  private[operators] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  final class Processor(threshold: Double, shingle: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, DocIn, Verdict] {

    @transient private var owner: ValueState[Owner] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[Owner]("owner", Encoders.product[Owner], ttl)

    override def handleInputRows(bucket: Long, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[Verdict] = {
      var cur = if (owner.exists()) Some(owner.get()) else None
      // id order within the batch, for determinism under multi-partition input
      val out = rows.toSeq.sortBy(_.id).map { d =>
        val hs = hashSet(d.text, shingle)
        cur match {
          case Some(o) =>
            val jac = jaccardSorted(o.hashes, hs)
            Verdict(d.id, jac >= threshold, if (jac >= threshold) Some(o.id) else None, jac)
          case None =>
            cur = Some(Owner(d.id, hs))
            Verdict(d.id, near_dup = false, None, 0.0)
        }
      }
      cur.foreach(owner.update)
      out.iterator
    }
  }

  /** The bucket key for one band — byte-identical to the batch
    * [[Dedup.minhashCandidates]] banding, so a streaming claimant and a
    * batch candidate land in the same bucket. */
  def bandBucket(text: Column, band: Int, k: Int = 64, bands: Int = 16,
      shingle: Int = 3): Column = {
    require(k % bands == 0, "k must be divisible by bands")
    require(band >= 0 && band < bands, s"band must be in [0, $bands), got $band")
    val rows = k / bands
    val sig = Dedup.minhashSignature(text, k, shingle)
    xxhash64((lit(band) +: (0 until rows).map(r =>
      element_at(sig, band * rows + r + 1))): _*)
  }

  /** Combines the per-band verdicts of one document (all emitted in the
    * same micro-batch — a doc's banded rows travel together) into ONE
    * verdict: flagged if any band flagged, attributed to the
    * highest-jaccard owner; a clean doc reports the max jaccard observed
    * across its bands' owners. Stateless by construction — the keyed
    * grouping is only for the per-doc shuffle. */
  final class CombineProcessor extends StatefulProcessor[String, Verdict, Verdict] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
    override def handleInputRows(id: String, rows: Iterator[Verdict],
        timerValues: TimerValues): Iterator[Verdict] = {
      var nearDup = false
      var bestJ = 0.0
      var bestOf: Option[String] = None
      var maxJ = 0.0
      rows.foreach { v =>
        if (v.jaccard > maxJ) maxJ = v.jaccard
        if (v.near_dup && (!nearDup || v.jaccard > bestJ ||
            (v.jaccard == bestJ && v.dup_of.exists(o => bestOf.forall(_ > o))))) {
          nearDup = true; bestJ = v.jaccard; bestOf = v.dup_of
        }
      }
      Iterator.single(
        if (nearDup) Verdict(id, near_dup = true, bestOf, bestJ)
        else Verdict(id, near_dup = false, None, maxJ))
    }
  }

  /** Flag near-duplicates on a streaming DataFrame with (`idCol`,
    * `textCol`). Returns a streaming Dataset of [[Verdict]]s (update
    * mode). */
  def nearDupVerdicts(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      band: Int = 0,
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Verdict] = {
    val in = docs.select(
      col(idCol).cast("string").as("id"),
      col(textCol).as("text"),
      bandBucket(col(textCol), band, k, bands, shingle).as("bucket"))
      .as[DocIn](Encoders.product[DocIn])
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    in.groupByKey(_.bucket)(Encoders.scalaLong)
      .transformWithState(new Processor(threshold, shingle, ttl),
        timeMode, OutputMode.Update())(Encoders.product[Verdict])
  }

  /** Stream-vs-static near-dup gate: match each streaming document against
    * a FIXED reference corpus (the already-ingested 100 TB) — the
    * streaming face of [[Dedup.crossCandidates]]. The corpus is banded
    * ONCE into two static frames (a (band, bucket, id) bucket table and an
    * (id, shingles) refinement table — at scale both live as bucketed
    * parquet, built once per corpus version, not per batch); each
    * micro-batch maps its docs to all-band buckets, inner-joins the bucket
    * table (stream-static join: stateless, no watermark), refines with the
    * SAME rounded exact-Jaccard as the batch path, and emits ONE
    * [[Verdict]] per flagged doc (best-jaccard corpus owner; absence =
    * accepted). Multi-band collisions collapse through the stateless
    * [[CombineProcessor]] — a doc's banded rows travel in one micro-batch,
    * so no cross-batch state exists anywhere in this gate (a streaming
    * dropDuplicates would instead accrete pair state forever). */
  def corpusGate(
      stream: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3): Dataset[Verdict] = {
    val corpusBuckets = corpus.select(col(idCol).as("corpus_id"), posexplode(
        array((0 until bands).map(b =>
          bandBucket(col(textCol), b, k, bands, shingle)): _*))
        .as(Seq("band", "bucket")))
    val corpusSh = corpus.select(col(idCol).as("corpus_id"),
      TextFunctions.distinctShingles(col(textCol), shingle).as("corpus_sh"))
    val streamBanded = stream.select(col(idCol).as("id"),
        TextFunctions.distinctShingles(col(textCol), shingle).as("sh"),
        posexplode(array((0 until bands).map(b =>
          bandBucket(col(textCol), b, k, bands, shingle)): _*))
          .as(Seq("band", "bucket")))
    streamBanded
      .join(corpusBuckets, Seq("band", "bucket"))
      .join(corpusSh, Seq("corpus_id"))
      .select(col("id").cast("string").as("id"), lit(true).as("near_dup"),
        col("corpus_id").cast("string").as("dup_of"),
        round(TextFunctions.jaccard(col("sh"), col("corpus_sh")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .as[Verdict](Encoders.product[Verdict])
      .groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new CombineProcessor,
        TimeMode.None(), OutputMode.Update())(Encoders.product[Verdict])
  }

  final case class FpDoc(id: String, fph: Long)

  /** One row per (document, fingerprint): `owner` is the fingerprint's
    * first claimant — the document itself when it claimed the fingerprint,
    * an earlier document when the fingerprint was already owned (a shared
    * passage window). */
  final case class FpHit(id: String, owner: String)

  /** One verdict per document with at least one fingerprint: flagged when
    * it shares >= minShared fingerprint windows with a single earlier
    * document. */
  final case class PassageVerdict(
      id: String, flagged: Boolean, overlap_with: Option[String], shared_fp: Long)

  /** Claims winnowing fingerprints for their first arriving document; later
    * arrivals on an owned fingerprint emit a hit against the owner. State
    * is ONE owner id per occupied fingerprint — strictly smaller than the
    * LSH [[Processor]]'s owner hash set. */
  final class FpClaimProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, FpDoc, FpHit] {

    @transient private var owner: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[String]("fpOwner", Encoders.STRING, ttl)

    override def handleInputRows(fph: Long, rows: Iterator[FpDoc],
        timerValues: TimerValues): Iterator[FpHit] = {
      var cur = if (owner.exists()) Some(owner.get()) else None
      // id order within the batch, for determinism under multi-partition input
      val out = rows.toSeq.sortBy(_.id).map { d =>
        cur match {
          case Some(o) => FpHit(d.id, o)
          case None => cur = Some(d.id); FpHit(d.id, d.id)
        }
      }
      cur.foreach(owner.update)
      out.iterator
    }
  }

  /** Folds one document's fingerprint hits into a verdict: flagged when
    * some single earlier owner accounts for >= minShared of them (ties on
    * the count attribute to the smallest owner id). Stateless — a doc's
    * hits are emitted in one micro-batch; the grouping is only the per-doc
    * shuffle. */
  final class PassageCombineProcessor(minShared: Int)
      extends StatefulProcessor[String, FpHit, PassageVerdict] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
    override def handleInputRows(id: String, rows: Iterator[FpHit],
        timerValues: TimerValues): Iterator[PassageVerdict] = {
      val byOwner = new scala.collection.mutable.HashMap[String, Long]()
      rows.foreach { h =>
        if (h.owner != id) byOwner.update(h.owner, byOwner.getOrElse(h.owner, 0L) + 1L)
      }
      val best = byOwner.toSeq.sortBy { case (o, n) => (-n, o) }.headOption
      Iterator.single(best match {
        case Some((o, n)) if n >= minShared => PassageVerdict(id, flagged = true, Some(o), n)
        case Some((_, n)) => PassageVerdict(id, flagged = false, None, n)
        case None => PassageVerdict(id, flagged = false, None, 0L)
      })
    }
  }

  /** Streaming passage-level near-dup filter — the ingestion-time analogue
    * of [[Dedup.sharedFingerprintPairs]]: each arriving document's
    * winnowing fingerprints (the SAME per-row expression chain as the batch
    * table — native CharGramHashes + SlidingMin kernels, distinct) claim
    * keyed state per fingerprint value; a document sharing >= `minShared`
    * fingerprints with a single earlier document is flagged. The winnowing
    * guarantee carries over: a verbatim shared passage of >= k + w - 1
    * normalized chars ALWAYS produces at least one shared fingerprint, so
    * at minShared = 1 no long passage reuse escapes the filter (modulo
    * owner attribution, below).
    *
    * Attribution semantics: a fingerprint belongs to its FIRST claimant —
    * exactly like the LSH bucket claim — so when three docs share a
    * passage, the third's hits all point at the first (count still >=
    * minShared); a hit count against a SPECIFIC owner can undercount the
    * batch pair's `n_shared_fp` only when a third doc claimed some of the
    * shared windows first. Flag recall is what matters at ingestion; the
    * batch operator is the forensic tool.
    *
    * Cost shape: one state entry (a single owner id) per distinct
    * fingerprint in the horizon, `~2/(w+1)` of the corpus gram count —
    * pass `ttl` to bound it. Per-doc shuffle fan-out is the fingerprint
    * count (tens of rows/doc), heavier than multi-band LSH's fixed
    * `bands` rows — inherent to passage indexing, which must key by
    * content windows, not documents. Docs with no grams (normalized
    * length < k) emit no verdict: they have nothing to match. */
  def passageVerdicts(
      docs: DataFrame,
      minShared: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      w: Int = 8,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[PassageVerdict] = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fps = docs.select(
      col(idCol).cast("string").as("id"),
      explode(array_distinct(org.apache.spark.sql.graft.ArrayExpressions.slidingMin(
        org.apache.spark.sql.graft.ArrayExpressions.charGramHashes(
          graft.functions.TextFunctions.normalized(col(textCol)), k), w))).as("fph"))
      .as[FpDoc](Encoders.product[FpDoc])
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    fps.groupByKey(_.fph)(Encoders.scalaLong)
      .transformWithState(new FpClaimProcessor(ttl),
        timeMode, OutputMode.Update())(Encoders.product[FpHit])
      .groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new PassageCombineProcessor(minShared),
        TimeMode.None(), OutputMode.Update())(Encoders.product[PassageVerdict])
  }

  /** Multi-band streaming near-dup — the packaged b-instance composition of
    * [[nearDupVerdicts]], with batch-LSH recall instead of single-probe:
    * each document is routed to ALL `bands` band buckets (the per-row
    * signature is computed ONCE, then fanned out to `bands` bucket keys —
    * each byte-identical to [[bandBucket]] for its band index), every bucket
    * runs the same claim/refine [[Processor]] (state stays one owner per
    * occupied bucket), and a second keyed stage ([[CombineProcessor]])
    * merges the per-band verdicts into ONE verdict per document.
    *
    * Recall vs the Jaccard threshold is the batch banding's 1-(1-j^r)^b
    * rather than single-probe's j^r — at j = 0.9 with the default k=64/b=16
    * (r = 4): ~0.9997 vs ~0.66. Cost scales the same way as batch LSH:
    * `bands` state buckets and `bands` shuffle rows per document, plus one
    * more keyed shuffle for the per-doc combine (a doc's banded rows are
    * emitted in the same micro-batch, so the combine stage needs no state
    * of its own).
    *
    * A flagged doc is attributed to its highest-jaccard band owner; a clean
    * doc reports the max jaccard seen across its bands' owners (owners may
    * differ per band — each bucket claims independently, exactly like the
    * batch banding's per-band buckets). */
  def nearDupVerdictsMultiBand(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Verdict] = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    // two-step projection: `sig` is referenced `bands` times below, which
    // blocks CollapseProject from inlining the signature kernel into every
    // bucket hash (the per-row signature must be computed once, not b times)
    val sigd = docs.select(
      col(idCol).cast("string").as("id"),
      col(textCol).as("text"),
      Dedup.minhashSignature(col(textCol), k, shingle).as("sig"))
    val in = sigd.select(col("id"), col("text"),
      explode(array((0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1))): _*)
      }: _*)).as("bucket"))
      .as[DocIn](Encoders.product[DocIn])
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    in.groupByKey(_.bucket)(Encoders.scalaLong)
      .transformWithState(new Processor(threshold, shingle, ttl),
        timeMode, OutputMode.Update())(Encoders.product[Verdict])
      .groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new CombineProcessor,
        TimeMode.None(), OutputMode.Update())(Encoders.product[Verdict])
  }
}
