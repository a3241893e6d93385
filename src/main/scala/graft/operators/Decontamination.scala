package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination: find training documents that share word
  * n-grams with a held-out evaluation set — the overlap check every serious
  * LLM training pipeline runs before a corpus ships (eval answers leaking
  * into training data inflate benchmark scores without improving the model).
  *
  * Shape at 100 TB: eval/benchmark suites are tiny relative to the corpus
  * (10^3–10^6 documents vs 10^9+), so the eval gram set is collected into a
  * broadcast hash table and the corpus side streams through a broadcast
  * semi-join WITHOUT shuffling a single corpus row — the only corpus-keyed
  * shuffle is the final per-document count of matched grams, carried as
  * map-side-combined partials. The eval side is always broadcast: a gram
  * set too large for that is a corpus-to-corpus join, which the Dedup
  * operators serve.
  */
object Decontamination {

  /** Per-document overlap counts against `evalDocs`: one row per corpus
    * document sharing at least one distinct word n-gram with ANY eval
    * document, with `n_shared` = how many of its distinct grams are
    * eval-tainted. Callers drop or review flagged docs; joining the result
    * back to the corpus as an anti-join yields the decontaminated view.
    *
    * Both sides shingle through the native
    * [[org.apache.spark.sql.graft.WordShingles]] kernel; corpus grams are
    * per-document DISTINCT before the join, so `count(*)` after it equals
    * the distinct-overlap cardinality without a count-distinct expand.
    *
    * `hashGrams = true` is the 100 TB form: both sides join on the fused
    * [[org.apache.spark.sql.graft.WordShingleHashes]] kernel's xxhash64
    * values instead of gram strings — the corpus scan materializes ZERO
    * shingle strings (the same trick the MinHash signature scan uses) and
    * the broadcast table holds 8-byte longs instead of ~n-word strings.
    * A hash collision can inflate a count (or flag a clean doc) with
    * probability ~|eval grams| / 2^64 per corpus gram — negligible against
    * the fuzziness of n-gram contamination itself; parity with the string
    * form on real corpora is pinned in spec. The string form (`false`)
    * stays the externally-reproducible surface (q62's oracle). */
  def overlap(
      corpus: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashGrams: Boolean = false): DataFrame = {
    def gramsOf(df: DataFrame): Column =
      if (hashGrams)
        explode(array_distinct(
          org.apache.spark.sql.graft.ArrayExpressions.wordShingleHashes(col(textCol), n)))
      else
        explode(TextFunctions.distinctShingles(col(textCol), n))
    val evalGrams = evalDocs.select(gramsOf(evalDocs).as("gram")).distinct()
    corpus
      .select(col(idCol), gramsOf(corpus).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-EVAL-document contamination report — the other direction of
    * [[overlap]]: for each eval document, how much of it leaked into the
    * corpus. One row per eval doc: its distinct-gram count, how many of
    * those grams appear anywhere in the corpus (`n_leaked_grams`), how many
    * distinct corpus documents carry at least one of them
    * (`n_tainted_docs`), and the leaked fraction. This is the artifact a
    * benchmark owner reads to decide which eval items are still
    * trustworthy; [[overlap]]/[[clean]] is what the corpus owner runs.
    *
    * Same 100 TB shape as [[overlap]]: the eval gram table (keyed by eval
    * id this time) broadcasts, the corpus streams through the join without
    * a corpus-wide shuffle, and the aggregation keys by the tiny eval-id
    * set — the two count-distincts expand only the MATCHED (gram,
    * corpus_id) pairs, a contamination-sized frame, not a corpus-sized
    * one. */
  def report(
      corpus: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val evalGrams = evalDocs.select(col(idCol).as("eval_id"),
      explode(TextFunctions.distinctShingles(col(textCol), n)).as("gram"))
    val matched = corpus
      .select(col(idCol).as("corpus_id"),
        explode(TextFunctions.distinctShingles(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("gram")).as("n_leaked_grams"),
        countDistinct(col("corpus_id")).as("n_tainted_docs"))
    evalDocs
      .select(col(idCol).as("eval_id"),
        size(TextFunctions.distinctShingles(col(textCol), n)).cast("long").as("n_grams"))
      .join(matched, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_tainted_docs"), lit(0L)).as("n_tainted_docs"),
        round(when(col("n_grams") > 0,
            coalesce(col("n_leaked_grams"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0), 6).as("leak_frac"))
  }

  /** The decontaminated corpus: `corpus` minus every document [[overlap]]
    * flags — the anti-join most callers want (q72's first stage). Same
    * parameters and plan shape as [[overlap]] plus one left-anti join on
    * the id (flagged ids are a tiny frame; AQE broadcast-converts it). */
  def clean(
      corpus: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashGrams: Boolean = false): DataFrame =
    corpus.join(
      overlap(corpus, evalDocs, n, idCol, textCol, hashGrams)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** STATELESS per-row contamination verdict — the streaming ingest gate.
    * The whole eval gram set folds into ONE static row (an array), which a
    * stream-static cross join replays against every micro-batch; each doc's
    * verdict is then a per-row `array_intersect` — no keyed state, no
    * watermark, append-mode, so the same call works identically on a batch
    * or a `readStream` frame (parity with [[overlap]] is pinned in spec).
    *
    * `hashGrams = true` (default here, unlike [[overlap]]: a long-lived
    * stream should not pin gram STRINGS) keeps the static row at 8
    * bytes/gram — the eval suites' ~10^6–10^7 grams cost ~10–100 MB, the
    * same budget the broadcast join form pays. Output: (id, n_shared,
    * flagged); callers filter `!flagged` to gate, or route flagged docs to
    * review. */
  def gate(
      docs: DataFrame,
      evalDocs: DataFrame,
      minShared: Int = 1,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashGrams: Boolean = true): DataFrame = {
    def gramsOf(c: Column): Column =
      if (hashGrams)
        array_distinct(
          org.apache.spark.sql.graft.ArrayExpressions.wordShingleHashes(c, n))
      else TextFunctions.distinctShingles(c, n)
    val evalSet = evalDocs
      .select(explode(gramsOf(col(textCol))).as("gram")).distinct()
      .agg(collect_set(col("gram")).as("__eval_grams"))
    // input columns pass through so the gate composes mid-pipeline
    docs.join(broadcast(evalSet))
      .withColumn("n_shared",
        size(array_intersect(gramsOf(col(textCol)), col("__eval_grams")))
          .cast("long"))
      .withColumn("flagged", col("n_shared") >= minShared)
      .drop("__eval_grams")
  }

  /** FUZZY contamination hits, STREAMING-SAFE: (doc id, eval id, jaccard)
    * for every document near-duplicating a held-out eval item at
    * `threshold` — the paraphrase-robust companion to [[gate]]'s exact
    * n-gram overlap, runnable inside an ingestion stream.
    *
    * Construction: the doc side computes its MinHash signature with the
    * PER-ROW kernel (`Dedup.minhashSignature` — bit-identical to the
    * banded table form, but a pure projection: no aggregation, so it is
    * legal on a streaming frame) and band-explodes; the eval side is the
    * standard banded signature table joined back to its shingle sets. One
    * stream-static hash EQUI-join on (band, bucket) — the eval side is
    * benchmark-sized, so Spark broadcasts it — followed by the exact
    * shingle-Jaccard refine in the same projection. Completely STATELESS:
    * no watermark, no state store, per-batch cost O(batch × collision
    * rate), which is what lets a 100 TB ingestion stream gate against its
    * benchmarks on every micro-batch.
    *
    * A pair sharing multiple band buckets emits one row per shared bucket
    * (at-least-once evidence). Batch callers wanting exact pair sets add
    * `.distinct()`; streaming callers dedup at the sink or downstream —
    * an idempotent (doc, eval) upsert absorbs them. */
  def fuzzyHits(
      docs: DataFrame,
      evalDocs: DataFrame,
      threshold: Double = 0.5,
      k: Int = 64,
      bands: Int = 16,
      shingle: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val d = docs
      .select(col(idCol).as("__did"),
        TextFunctions.distinctShingles(col(textCol), shingle).as("__dsh"),
        Dedup.minhashSignature(col(textCol), k, shingle).as("__sig"))
      .select(col("__did"), col("__dsh"), posexplode(
        array((0 until bands).map { b =>
          xxhash64((lit(b) +: (0 until rows).map(r =>
            element_at(col("__sig"), b * rows + r + 1))): _*)
        }: _*)).as(Seq("band", "bucket")))
    val e = Dedup.bandedSignatures(evalDocs, textCol, idCol, k, bands, shingle)
      .join(evalDocs.select(col(idCol).as("id"),
        TextFunctions.distinctShingles(col(textCol), shingle).as("__esh")), "id")
      .select(col("id").as("eval_id"), col("band"), col("bucket"), col("__esh"))
    d.join(e, Seq("band", "bucket"))
      .withColumn("jaccard",
        round(TextFunctions.jaccard(col("__dsh"), col("__esh")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("__did").as(idCol), col("eval_id"), col("jaccard"))
  }

  /** EXACT verbatim-span decontamination hits — the character-level
    * (Lee-et-al ExactSubstr) gate beside the token-n-gram [[overlap]] and
    * the MinHash [[fuzzyHits]]: a (doc, eval) pair is a hit iff the two
    * share a verbatim substring of length >= `minLen`. The detection needs
    * NO diagonal-run pass: a shared span of length >= L exists IFF at
    * least one L-gram anchor matches, so existence is one positional-gram
    * equi-join — which makes the operator STATELESS-STREAMING-SAFE
    * (stream-side docs project grams map-side and stream-static-join the
    * eval index; no watermark, no state store — the [[fuzzyHits]]
    * contract). Span EXTENTS at ingestion would need the window pass;
    * pipelines wanting them run [[Dedup.exactSubstrSpansAgainstIndex]] in
    * batch over the flagged subset — exactly the two-phase shape a 100 TB
    * ingest uses (cheap gate on everything, exact extents on the hits).
    *
    * Emits one row per MATCHING ANCHOR (at-least-once evidence, like
    * fuzzyHits' per-band rows): batch callers `.distinct()`, streaming
    * callers dedup at an idempotent sink. Returns (idCol, eval_id). */
  def substrHits(
      docs: DataFrame,
      evalDocs: DataFrame,
      minLen: Int = 40,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val d = Dedup.exactSubstrGrams(docs, minLen, textCol, idCol)
      .select(col("id").as("__did"), col("gh"))
    val e = Dedup.exactSubstrGrams(evalDocs, minLen, textCol, idCol)
      .select(col("id").as("eval_id"), col("gh"))
    // Bound: the eval gram index is broadcast, 16 bytes per eval character.
    // Eval benchmark suites are small and FIXED-size (they do not grow with
    // the corpus), so the 100 TB corpus side stays a map-only scan — gram
    // projection feeding a BroadcastHashJoin, zero corpus-side exchange.
    d.join(broadcast(e), Seq("gh")).select(col("__did").as(idCol), col("eval_id"))
  }
}
