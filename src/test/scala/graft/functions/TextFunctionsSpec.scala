package graft.functions

import org.apache.spark.sql.functions._

import graft.{ReferenceForms, SparkSpec}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).collect().head.getAs[T]("r")

  test("tokenCount: whitespace runs, trimmed boundaries") {
    assert(one[Long](TextFunctions.tokenCount($"t"), "  a  b\tc\nd ") == 4L)
    assert(one[Long](TextFunctions.tokenCount($"t"), "one") == 1L)
  }

  test("bpeish token count splits letter/digit/punct runs") {
    // "abc123!?x" -> [abc][123][!][?][x]
    assert(one[Long](TextFunctions.bpeishTokenCount($"t"), "abc123!?x") == 5L)
  }

  test("fingerprint invariant under case and punctuation noise") {
    val a = one[String](TextFunctions.fingerprint($"t"), "Hello, World! 42")
    val b = one[String](TextFunctions.fingerprint($"t"), "hello world42")
    assert(a == b)
    val c = one[String](TextFunctions.fingerprint($"t"), "hello world43")
    assert(a != c)
  }

  test("wordShingles in order; distinctShingles dedupes; short docs empty") {
    val sh = one[collection.Seq[String]](TextFunctions.wordShingles($"t", 3), "a b c d")
    assert(sh == Seq("a b c", "b c d"))
    val dup = one[collection.Seq[String]](TextFunctions.distinctShingles($"t", 2), "x y x y x y")
    assert(dup.sorted == Seq("x y", "y x"))
    assert(one[collection.Seq[String]](TextFunctions.wordShingles($"t", 3), "a b").isEmpty)
  }

  test("wordShingles of NULL text is an empty array, not null") {
    val r = Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.wordShingles($"t", 3).as("sh"),
        TextFunctions.distinctShingles($"t", 3).as("dsh")).collect().head
    assert(!r.isNullAt(0) && r.getSeq[String](0).isEmpty)
    assert(!r.isNullAt(1) && r.getSeq[String](1).isEmpty)
  }

  test("wordShingles: native kernel is bit-identical to the HOF form, incl. tokenizer quirks") {
    // every tokenizer edge the HOF form (split(trim(text), \s+) + zip_with
    // folds) exhibits: plain, multi-space runs, tab/newline boundaries
    // surviving the space-only trim (empty first/last tokens), all-
    // whitespace ([""] vs ["", ""]), empty, single token, and multibyte
    // content (2/3/4-byte UTF-8)
    val fixtures = Seq(
      "a b c d", "  a  b\tc\nd ", "\tleading tab", "trailing tab\t",
      "\ta\t", "\t\t", "   ", "", "one", "x y x y x y",
      "café naïve résumé touché", "漢字 と かな mixed", "emoji 😀 four 😁 byte",
      "a b stays one token", // non-ASCII whitespace is NOT a separator
      "words separatedby vertical\ftab")
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (n <- Seq(1, 2, 3, 5)) {
      val native = df.select($"id", TextFunctions.wordShingles($"t", n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hof = df.select($"id", ReferenceForms.wordShingles($"t", n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native === hof, s"native/HOF shingle divergence at n=$n")
    }
  }

  test("wordShingleHashes == xxhash64 over materialized shingles, element-for-element") {
    val fixtures = Seq(
      "a b c d", "  a  b\tc\nd ", "\ta\t", "\t\t", "", "one",
      "café naïve résumé touché", "漢字 と かな mixed", "emoji 😀 four 😁 byte")
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (n <- Seq(1, 2, 3)) {
      val fused = df.select($"id",
        org.apache.spark.sql.graft.ArrayExpressions.wordShingleHashes($"t", n).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val twoStep = df.select($"id",
        transform(TextFunctions.wordShingles($"t", n), s => xxhash64(s)).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused === twoStep, s"fused/two-step hash divergence at n=$n")
    }
  }

  test("jaccard of shingle sets") {
    val df = Seq(("a b c d", "b c d e")).toDF("x", "y")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.distinctShingles($"x", 2),
      TextFunctions.distinctShingles($"y", 2)).as("j")).collect().head.getDouble(0)
    // shingles x: {a b, b c, c d}, y: {b c, c d, d e} -> 2/4
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("langId picks marker-majority language, unknown when no hit") {
    assert(one[String](TextFunctions.langId($"t"), "the cat and the dog of it") == "en")
    assert(one[String](TextFunctions.langId($"t"), "der hund und das haus") == "de")
    assert(one[String](TextFunctions.langId($"t"), "zzz qqq") == "unknown")
  }

  test("qualityScore bounded [0,1]; penalizes digit-heavy text") {
    val hi = one[Double](TextFunctions.qualityScore($"t"), ("word " * 120).trim)
    val lo = one[Double](TextFunctions.qualityScore($"t"), "123 456 789 000 111")
    assert(hi > lo && hi <= 1.0 && lo >= 0.0)
  }
}
