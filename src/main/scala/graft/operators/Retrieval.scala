package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Sparse lexical retrieval over the document corpus: Okapi BM25 scoring
  * and top-k search. Complements the dense (cosine/ANN) retrieval surface in
  * [[Similarity]] and the tf-idf keyword extraction in [[CorpusStats]] — BM25
  * is the ranking function production search/RAG stacks actually serve from
  * an inverted index, and its term-at-a-time shape maps directly onto
  * posting-list joins.
  *
  * Scale shape: ONE tokenize/explode feeds the (doc, term) tf counts; df and
  * doc length both re-aggregate from tf (no second corpus scan); the corpus
  * constants (N, avgdl) join in as a broadcast single-row aggregate. Scoring
  * is per-posting arithmetic inside whole-stage codegen, and the final top-k
  * per query term is a bounded per-key selection (the engine's rank-filter
  * rewrite lowers it to TopKPerKey: k rows per (term, partition) cross the
  * wire, no sort). Posting lists — not the corpus — bound every shuffle.
  */
object Retrieval {

  /** BM25 top-`topK` documents for each of the `nQueryTerms` highest-df
    * terms (the worst-case workload: the longest posting lists).
    *
    * Score of term t in doc d:
    *   idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))      [Robertson-Spärck
    *             Jones with the +1 floor, always positive]
    *   s(t,d)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Determinism contract: the score is rounded to 6 dp and the per-term
    * ranking orders by (rounded score desc, doc_id) — both engines rank on
    * the same grid, so ulp-level libm `ln` divergence can't reorder results.
    */
  def bm25TopK(
      docs: DataFrame,
      nQueryTerms: Int = 10,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Doc length re-aggregates tf (input already one row per distinct
    // doc-term), so the corpus is tokenized exactly once.
    val dl = tf.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Corpus constants: single-row aggregate, broadcast into the score scan.
    // N counts ALL docs (empty docs contribute no postings but do dilute
    // idf), avgdl divides exact integer sums so both engines perform the
    // identical IEEE division.
    val consts = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum("dl").as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    val queryTerms = dfx
      .orderBy(desc("df"), asc("term"))
      .limit(nQueryTerms)
    val scored = tf
      .join(queryTerms, "term") // posting lists of the query terms only
      .join(dl, idCol)
      .crossJoin(broadcast(consts))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("score", round(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double") +
             lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))),
        6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term")).orderBy(desc("score"), col(idCol))))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank").cast("long").as("rank"),
        col(idCol), col("tf"), col("score"))
  }
}
