package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling. All built from `org.apache.spark.sql.functions` so every
  * operator stays inside whole-stage codegen — no UDFs in the hot path.
  */
object TextFunctions {

  /** Whitespace tokens. `trim` first so neither engine produces boundary
    * empties (Spark's split keeps trailing empty strings, limit = -1). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword-boundary count: runs of letters, digits, or single
    * punctuation — a cheap proxy for LLM token counts. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Canonical content normalization used for exact-dup fingerprints. */
  def normalized(text: Column): Column =
    lower(regexp_replace(text, "[^a-zA-Z0-9]", ""))

  /** Content fingerprint (document identity under formatting noise). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Word n-gram shingles in document order (may contain duplicates) —
    * the native codegen [[org.apache.spark.sql.graft.WordShingles]] kernel:
    * one byte walk per row, one exact-size copy per shingle, inside
    * whole-stage codegen. NULL text keeps the "no shingles" = empty-array
    * contract. TextFunctionsSpec pins bit-parity with the interpreted
    * zip_with form it replaced (the HOF chain was correct but paid the
    * lambda-interpreter constant on every corpus byte of the shingle
    * family: q35/q36 directly, and the minhash/ensemble signature scans
    * through [[distinctShingles]]). */
  def wordShingles(text: Column, n: Int): Column =
    coalesce(org.apache.spark.sql.graft.ArrayExpressions.wordShingles(text, n),
      array().cast("array<string>"))

  def distinctShingles(text: Column, n: Int): Column =
    array_distinct(wordShingles(text, n))

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union > 0.0, inter / union).otherwise(lit(0.0))
  }

  /** Marker words per language for the heuristic language-ID. Deliberately
    * tiny: the point is the operator shape (bulk scoring + argmax routing),
    * not linguistic accuracy. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "que"))

  private def markerScore(text: Column, words: Seq[String]): Column =
    words.map(w => when(text.like(s"% $w %"), 1).otherwise(0))
      .reduce(_ + _)

  /** Heuristic language-ID: count marker-word hits per language, pick the
    * first language (in langMarkers order) achieving the max positive score;
    * "unknown" when no marker hits. Deterministic, SQL-expressible. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scores = langMarkers.map { case (lang, ws) => lang -> markerScore(padded, ws) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unknown")) { case ((lang, sc), els) =>
      when(sc > 0 && sc === maxScore, lang).otherwise(els)
    }
  }

  /** Composite quality score in [0,1]: token volume, alphabetic density,
    * digit sparsity. Same closed formula as the SQL oracle. */
  def qualityScore(text: Column): Column = {
    val nchars = length(text).cast("double")
    val ntok = tokenCount(text).cast("double")
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val volume = least(ntok / 100.0, lit(1.0))
    val alphaRatio = when(nchars > 0.0, alpha / nchars).otherwise(lit(0.0))
    val digitRatio = when(nchars > 0.0, digits / nchars).otherwise(lit(0.0))
    round(volume * 0.4 + alphaRatio * 0.4 + (lit(1.0) - digitRatio) * 0.2, 4)
  }
}
