package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Dedup

/** The interpreted higher-order-function forms the native kernels
  * replaced, kept as independent reference implementations for the
  * kernels' bit-parity specs (DedupSpec, TextFunctionsSpec,
  * SimilaritySpec). Not for corpus scans: each pays the
  * lambda-interpreter constant per element. */
object ReferenceForms {

  /** [[Dedup.minhashSignature]] as k `aggregate` folds over the distinct
    * shingle hashes; family member i is `xxhash64(i, h)`. */
  def minhashSignature(text: Column, k: Int, shingle: Int = 3): Column = {
    val hashes = transform(
      TextFunctions.distinctShingles(text, shingle), sh => xxhash64(sh))
    val mins = (0 until k).map { seed =>
      aggregate(hashes, lit(Long.MaxValue),
        (acc, h) => least(acc, xxhash64(lit(seed), h)))
    }
    array(mins: _*)
  }

  /** [[Dedup.winnowingFingerprintTable]] with the w-window minimum as
    * `transform(sequence, array_min(slice))` over [[Dedup.charGramHashesHof]]. */
  def winnowingFingerprintTable(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      w: Int = 8): DataFrame = {
    val grams = Dedup.charGramHashesHof(docs, textCol, idCol, k)
    grams.select(col("id"), size(col("gh")).as("n_grams"),
      when(size(col("gh")) >= w,
        array_distinct(transform(
          sequence(lit(1), size(col("gh")) - (w - 1)),
          j => array_min(slice(col("gh"), j, lit(w))))))
        // fewer grams than one window: the whole doc is the window
        .when(size(col("gh")) > 0, array(array_min(col("gh"))))
        .otherwise(array().cast("array<bigint>")).as("fingerprints"))
      .select(col("id"), col("fingerprints"), col("n_grams"))
  }

  /** [[TextFunctions.wordShingles]] built from `zip_with` over shifted
    * slices. Lambdas touch only their element arguments, so `ws` is
    * evaluated a constant number of times per row (an
    * `element_at(ws, i + k)` form would re-run the split per shingle). */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = TextFunctions.tokens(text)
    def shifted(k: Int) = slice(ws, lit(k + 1), greatest(size(ws) - k, lit(0)))
    // zip_with pads the shorter side with nulls; concat propagates them so
    // incomplete tail shingles become null and are filtered out.
    val joined = (1 until n).foldLeft(ws) { (acc, k) =>
      zip_with(acc, shifted(k), (a, b) => concat(a, lit(" "), b))
    }
    // NULL text: "no shingles" = empty array, as the kernel returns
    coalesce(filter(joined, _.isNotNull), array().cast("array<string>"))
  }

  /** [[VectorFunctions.dot]] as an index-ordered double fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** [[VectorFunctions.lshBucket]] composed per plane: one sign bit per
    * [[VectorFunctions.planeProjection]]. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, table: Int = 0): Column =
    (0 until nPlanes).map { p =>
      when(VectorFunctions.planeProjection(vec, table, p, dim) >= 0.0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
}
