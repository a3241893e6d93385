package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level text profiling for training-data curation: per-document
  * n-gram repetition signals (the Gopher-family quality rules) and global
  * n-gram frequency rankings.
  *
  * Scale notes: both operators are built on ONE explode of the native
  * [[org.apache.spark.sql.graft.WordShingles]] kernel followed by hash
  * aggregations — partial (map-side) aggregation bounds shuffle bytes by the
  * number of DISTINCT (doc, gram) / gram keys per partition, not by corpus
  * token count, and the top-k ranking ends in TakeOrderedAndProject (k rows
  * per partition cross the wire, never a global sort).
  */
object CorpusStats {

  /** Per-document n-gram repetition profile: total and distinct n-gram
    * counts, the most-frequent gram's count, and the two derived fractions
    * used as repetition quality gates in large-scale corpus filtering
    * (documents dominated by one repeated phrase score high on both):
    *
    *   - `dup_gram_frac`  = 1 − distinct/total (0 when the doc has no grams)
    *   - `top_gram_frac`  = top/total           (0 when the doc has no grams)
    *
    * One explode feeds a (doc, gram) count, re-aggregated per doc — the
    * second aggregation's input is already one row per distinct (doc, gram),
    * so the expensive shuffle happens once, on partially-combined counts.
    * Documents with fewer than n tokens re-enter via a left join with
    * zero-valued defaults (their gram explode produces no rows at all).
    */
  def repetitionStats(
      docs: DataFrame,
      n: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perGram = docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy(col(idCol)).agg(
      sum("cnt").as("n_grams"),
      count(lit(1)).as("n_distinct_grams"),
      max("cnt").as("top_gram_count"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("n_distinct_grams", coalesce(col("n_distinct_grams"), lit(0L)))
      .withColumn("top_gram_count", coalesce(col("top_gram_count"), lit(0L)))
      .withColumn("dup_gram_frac",
        round(when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
          .otherwise(0.0), 6))
      .withColumn("top_gram_frac",
        round(when(col("n_grams") > 0,
          col("top_gram_count").cast("double") / col("n_grams"))
          .otherwise(0.0), 6))
  }

  /** Global top-k n-grams by corpus frequency, ties broken by gram text so
    * the ranking is total and reproducible. The plan is the right 100 TB
    * shape: explode → partial-agg → one shuffle on gram → final agg →
    * TakeOrderedAndProject (each partition contributes at most k rows to the
    * driver-side merge; no global sort materializes). */
  def topNgrams(
      docs: DataFrame,
      n: Int = 3,
      k: Int = 50,
      textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.wordShingles(col(textCol), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("gram"))
      .limit(k)

  /** Snapshot diff between two corpus builds: one row per document id in
    * either version with its status — `added` (new only), `removed` (old
    * only), `changed` (both, content fingerprint differs), `unchanged`.
    * The audit step between successive corpus builds: what entered, what
    * left, what was edited. Content identity is the normalized
    * [[TextFunctions.fingerprint]], so formatting-only edits don't count
    * as changes.
    *
    * Scale shape: per-row fingerprints then ONE full-outer sort-merge join
    * on the id — no shuffle carries text (each side projects to (id, fp)
    * before the join). */
  def snapshotDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame, fpName: String) =
      df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as(fpName))
    fps(oldDocs, "fp_old").join(fps(newDocs, "fp_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-document top-k terms by smoothed tf-idf
    * (`tf · (ln((N+1)/(df+1)) + 1)`) — keyword extraction for corpus triage
    * and index construction. All counts flow from ONE tokenize/explode: tf
    * is the (doc, term) count, df re-aggregates tf (its input is already
    * one row per distinct doc-term — no second corpus scan), and N joins in
    * as a broadcast single-row aggregate so the plan stays action-free. The
    * final top-k is a row_number window partitioned BY DOCUMENT — thousands
    * of rows per partition key at worst, never a global sort.
    *
    * Scale note: the tf⋈df join keys on term; at vocabulary sizes that fit
    * the broadcast threshold AQE converts it to a broadcast join, otherwise
    * it shuffles both sides on term — either is sound, and df is bounded by
    * vocabulary, not corpus size. Ties inside a document resolve by term
    * text, so the result is a total order. */
  def tfidfTopTerms(
      docs: DataFrame,
      k: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Blank/whitespace-only docs split to a single empty-string token;
    // without this filter '' becomes a scored "term" and inflates df
    // corpus-wide, polluting the keyword surface.
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
  }

  /** Per-document mean negative log-likelihood under the corpus's own
    * unigram LM — the CCNet-style statistical quality score (Wenzek et al.
    * 2020 rank documents by LM perplexity; a unigram model over the corpus
    * itself is the dependency-free form). Low scores = stereotypical
    * high-frequency text, high scores = rare-token-heavy outliers; both
    * tails are what a curation pass reviews.
    *
    * Determinism across engines: a plain SUM of doubles is
    * addition-order-dependent, so each token's ln(p) contribution is
    * rounded to 6 dp and accumulated as DECIMAL (exact, order-independent);
    * only the final per-doc mean returns to double. The ln itself may
    * differ by 1 ulp between libms — the per-term round absorbs it.
    *
    * Plan shape: ONE tokenize feeds the (doc, term) counts; term totals
    * re-aggregate those partials (vocabulary-keyed, never corpus-keyed);
    * the corpus token total joins in as a broadcast scalar. Empty docs
    * re-enter via left join with n_tokens = 0, nll = 0. */
  def unigramNll(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("m"))
    val ct = tf.groupBy("term").agg(sum(col("m")).as("c"))
    val tot = ct.agg(sum(col("c")).as("t"))
    val perDoc = tf.join(ct, "term")
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        round(log(col("c").cast("double") / col("t")), 6)
          .cast("decimal(28,6)") * col("m"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_tokens"), sum(col("contrib")).as("sum_lp"))
      .select(col(idCol), col("n_tokens"),
        round(-col("sum_lp").cast("double") / col("n_tokens"), 6).as("nll"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }

  /** Per-document mean negative log-likelihood under a BIGRAM LM with
    * stupid backoff (Brants et al. 2007), trained on `modelDocs` and scored
    * over `docs` — the held-out perplexity-style filter one step up from
    * [[unigramNll]] (which, trained on the corpus itself, can never hit the
    * backoff path: every in-corpus bigram has nonzero count. Training on a
    * split makes unseen-bigram handling real).
    *
    * Probability of each adjacent token pair (w1, w2):
    *   count(w1 w2) / count(w1)          when the model saw the bigram
    *   0.4 * count(w2) / T               unseen bigram, known w2 (backoff)
    *   0.4 / T                           OOV w2 (floor)
    *
    * Determinism contract matches [[unigramNll]]: each position's ln(p) is
    * rounded to 6 dp and accumulated as DECIMAL times its multiplicity;
    * only the final per-doc mean divides in double. Plan shape: one
    * (doc, w1, w2) partial-agg shuffle for the scoring side, two
    * vocabulary-keyed model aggregations, LEFT joins on (w1, w2) then (w2),
    * scalar total broadcast — every join is keyed, nothing quadratic. */
  /** Adjacent token pairs (w1, w2) over the EMPTY-FILTERED token sequence
    * (same token universe as [[unigramNll]]'s post-explode filter), keeping
    * `keep` columns alongside — shared by the bigram LM and the PMI
    * collocation miner. */
  private[operators] def adjacentPairs(textCol: String)(
      d: DataFrame, keep: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val wsf = filter(TextFunctions.tokens(col(textCol)),
      x => length(x) > 0)
    // greatest(..., 0): slice() rejects negative lengths, and a 0- or
    // 1-token doc must yield an empty pair list, not an error
    val nPairs = greatest(size(col("__wsf")) - 1, lit(0))
    val z = zip_with(
      slice(col("__wsf"), lit(1), nPairs),
      slice(col("__wsf"), lit(2), nPairs),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    d.withColumn("__wsf", wsf)
      .select(keep :+ explode(z).as("bg"): _*)
      .select(keep :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
  }

  /** Top-k collocations (adjacent token pairs) ranked by pointwise mutual
    * information with a minimum pair count — the phrase-detection pass a
    * tokenizer/vocab pipeline runs to promote multi-word units (the
    * word2vec-phrases / NLTK-collocations shape). PMI = ln(P(w1 w2) /
    * (P(w1) P(w2))) with P(w1 w2) = c_ab / B over adjacent-pair
    * occurrences and P(w) = c_w / U over unigram occurrences; `minCount`
    * prunes the rare-pair noise raw PMI is notorious for. The score
    * rounds to the shared 6-dp grid BEFORE ranking, and the ln argument
    * is spelled as the identical IEEE op sequence in the SQL oracle, so
    * the rounded grid point is engine-equal. Plan shape: one pair-count
    * shuffle (map-side combined), two vocabulary-keyed joins, two
    * broadcast scalar totals, TakeOrdered top-k — nothing quadratic, no
    * global sort beyond the k-row result. */
  def pmiCollocations(
      docs: DataFrame,
      minCount: Int = 5,
      k: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val pairsDf = adjacentPairs(textCol)(docs, Seq.empty)
    val cab = pairsDf.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    val uni = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("nu"))
      .crossJoin(pairsDf.agg(count(lit(1)).as("nb")))
    cab
      .join(uni.select(col("term").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("term").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("cab").cast("double") / col("nb")) /
          ((col("ca").cast("double") / col("nu"))
            * (col("cb").cast("double") / col("nu")))), 6))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
        col("pmi"))
  }

  def bigramNll(
      docs: DataFrame,
      modelDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = adjacentPairs(textCol) _
    val tf = pairs(docs, Seq(col(idCol)))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val cb = pairs(modelDocs, Seq.empty)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val c1 = modelDocs
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum(col("c1")).as("t"))
    val p = when(col("cb").isNotNull && col("cb") > 0,
        col("cb").cast("double") / col("c1w1"))
      .otherwise(when(col("c1w2").isNotNull && col("c1w2") > 0,
          lit(0.4) * col("c1w2").cast("double") / col("t"))
        .otherwise(lit(0.4) / col("t")))
    val perDoc = tf
      .join(cb, Seq("w1", "w2"), "left")
      .join(c1.select(col("term").as("w1"), col("c1").as("c1w1")), Seq("w1"), "left")
      .join(c1.select(col("term").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        round(log(p), 6).cast("decimal(28,6)") * col("m"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("contrib")).as("sum_lp"))
      .select(col(idCol), col("n_bigrams"),
        round(-col("sum_lp").cast("double") / col("n_bigrams"), 6).as("nll"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }

  /** CCNet-style perplexity-band partition (Wenzek et al. 2020 §4.4): score
    * every document with the held-out bigram LM ([[bigramNll]]) and assign
    * it to `head` / `middle` / `tail` by fixed NLL thresholds, then account
    * docs and token mass per (category, band). CCNet calibrates the two
    * thresholds as percentiles of a sample and then applies them as
    * CONSTANTS corpus-wide — which is exactly the scale-safe form (a global
    * percentile split would be q112's global-sort ntile trap); the
    * thresholds arrive here as parameters for the same reason.
    *
    * Determinism: per-doc nll is already rounded to 6 dp by [[bigramNll]];
    * band assignment compares those grid points against constants, and the
    * per-band mean re-enters exact DECIMAL accumulation so engine summation
    * order cannot move the reported mean. Plan shape: bigramNll's keyed
    * aggregations, one broadcast-joined docs projection for the category,
    * then ONE (category, band) partial-aggregable groupBy — nothing new
    * shuffles at corpus width. */
  def perplexityBands(
      docs: DataFrame,
      modelDocs: DataFrame,
      headMax: Double,
      middleMax: Double,
      categoryCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(headMax < middleMax,
      s"band thresholds must be ordered: headMax=$headMax, middleMax=$middleMax")
    val scored = bigramNll(docs, modelDocs, idCol)
      .join(docs.select(col(idCol), col(categoryCol)), Seq(idCol))
      .withColumn("band",
        when(col("nll") < headMax, "head")
          .when(col("nll") < middleMax, "middle")
          .otherwise("tail"))
    scored.groupBy(col(categoryCol), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("nll").cast("decimal(28,6)")).as("sum_nll"))
      .select(col(categoryCol), col("band"), col("n_docs"), col("n_bigrams"),
        round(col("sum_nll").cast("double") / col("n_docs"), 6).as("mean_nll"))
  }

  /** Categorical drift between two corpus snapshots: per-category counts,
    * shares, and the add-one-smoothed log-odds ratio
    * `ln( ((n_new+1)/(t_new+k)) / ((n_old+1)/(t_old+k)) )` (k = distinct
    * categories across both snapshots) — the monitor a corpus owner reads
    * when a source's crawl share moves between builds. Smoothing keeps
    * categories present in only one snapshot finite, so appearing/vanishing
    * sources surface as large-magnitude rows instead of NULLs.
    *
    * No float sums anywhere (counts are integers; each output float is a
    * single rounded expression), so the compare is engine-exact. Plan: two
    * category-keyed partial aggregations, one full-outer join on the
    * vocabulary-sized category set, scalar totals broadcast back. */
  def categoryDrift(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      categoryCol: String = "source"): DataFrame = {
    val o = oldDocs.groupBy(col(categoryCol).as("category"))
      .agg(count(lit(1)).as("n_old"))
    val n = newDocs.groupBy(col(categoryCol).as("category"))
      .agg(count(lit(1)).as("n_new"))
    val joined = o.join(n, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum(col("n_old")).as("t_old"),
      sum(col("n_new")).as("t_new"), count(lit(1)).as("k"))
    joined.crossJoin(broadcast(totals))
      .select(col("category"), col("n_old"), col("n_new"),
        round(when(col("t_old") > 0,
          col("n_old").cast("double") / col("t_old")).otherwise(0.0), 6)
          .as("share_old"),
        round(when(col("t_new") > 0,
          col("n_new").cast("double") / col("t_new")).otherwise(0.0), 6)
          .as("share_new"),
        round(log(
          ((col("n_new") + lit(1)).cast("double") / (col("t_new") + col("k"))) /
            ((col("n_old") + lit(1)).cast("double") / (col("t_old") + col("k")))), 6)
          .as("log_odds_drift"))
  }

  // ------------------------------------------------------ BPE tokenizer

  /** Word-frequency vocabulary with each word as its initial BPE symbol
    * sequence (characters). The one corpus-sized stage of BPE training:
    * after this groupBy, everything operates on the DISTINCT-word table
    * weighted by frequency — for a 100 TB corpus that is millions of rows,
    * not trillions, which is why tokenizer trainers run on word-count
    * tables (the Sennrich-BPE formulation). */
  def bpeVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), split(col("word"), "").as("symbols"), col("freq"))

  /** Adjacent-symbol pair statistics over a (word, symbols, freq) vocab
    * table: for every adjacent symbol pair, its frequency-weighted
    * occurrence count and the number of distinct words containing it. The
    * argmax row of this frame IS the next BPE merge. zip_with over two
    * shifted slices builds the pair list per word — vocabulary-sized work,
    * one keyed aggregate, no corpus re-scan. */
  def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("word"), col("freq"),
        explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("cnt"),
        countDistinct(col("word")).as("n_words"))

  /** One BPE merge applied to a symbol-sequence column: adjacent (a, b)
    * collapse left-to-right non-overlapping into a+b — the fold keeps the
    * just-merged token as the new "last", so `aaa` under (a,a) becomes
    * [aa, a], never [aa, aa]. Interpreted HOF, deliberately: it runs over
    * the vocab table only (see [[bpeVocab]]), merges-many-times per
    * session, and a codegen kernel here would buy nothing measurable. */
  def bpeMergeSymbols(symbols: Column, a: String, b: String): Column =
    aggregate(symbols, array().cast("array<string>"), (acc, s) => {
      val last = element_at(acc, -1)
      when(size(acc) > 0 && last === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(last, s))))
        .otherwise(concat(acc, array(s)))
    })

  /** BPE trainer: `merges` rounds of argmax-pair + merge over the vocab
    * table. Returns the ordered merge list (left, right, weighted count).
    * Driver pulls exactly ONE row per round (the argmax pair — bounded by
    * construction); the vocab is materialized ([[Materialize.shared]])
    * every 4th merge so lineage depth stays bounded, and the previous
    * vocab-sized blocks are released asynchronously by the ContextCleaner
    * once the loop drops its references (at vocab scale the async release
    * is sufficient). Stops early when no pair reaches `minPairCount`
    * (merging singletons is tokenizer noise). */
  def bpeTrain(
      docs: DataFrame,
      merges: Int,
      textCol: String = "text",
      minPairCount: Long = 2L): Seq[(String, String, Long)] = {
    var vocab = Materialize.shared()(bpeVocab(docs, textCol))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    var round = 0
    // Materialization CADENCE (r18, guide §1.2 per-round fixed costs): the
    // per-merge eager checkpoint paid one extra materialization job per
    // round (q146 profiled at 54 jobs of 10-50 ms — pure job-floor
    // stacking). The merge fold is a cheap vocabulary-sized projection, so
    // rounds between checkpoints just stack `sinceCkpt` folds into the
    // argmax job's plan; checkpointing every 4th merge keeps plan depth
    // bounded while cutting the job count per round from ~4.5 to ~2.5.
    var sinceCkpt = 0
    while (!done && round < merges) {
      // Trainer-lean pair stats: bpePairCounts additionally computes
      // n_words (a countDistinct whose two-phase expansion doubles the
      // aggregate's shuffle) for the q120 stats surface — the trainer
      // never reads it, so it aggregates cnt alone (r18).
      val top = vocab
        .select(col("freq"),
          explode(zip_with(
            slice(col("symbols"), lit(1), size(col("symbols")) - 1),
            slice(col("symbols"), lit(2), size(col("symbols")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect() // bounded: exactly the argmax row
      if (top.isEmpty) done = true
      else {
        val pair = top.head.getAs[String]("pair")
        val cnt = top.head.getAs[Long]("cnt")
        val Array(a, b) = pair.split(" ", 2)
        out += ((a, b, cnt))
        vocab = vocab
          .select(col("word"), bpeMergeSymbols(col("symbols"), a, b).as("symbols"),
            col("freq"))
        sinceCkpt += 1
        if (sinceCkpt == 4) { vocab = Materialize.shared()(vocab); sinceCkpt = 0 }
      }
      round += 1
    }
    // Invariant (r19, advisor): up to 3 un-checkpointed merge folds may
    // remain stacked on `vocab` when the loop exits. That is fine ONLY
    // because vocab never escapes this method — the merge list `out` is the
    // result. If a future change returns or reuses vocab, checkpoint it
    // here first (its pending lineage would otherwise re-run those folds).
    out.toSeq
  }

  /** Corpus-wide BPE ENCODE with a learned merge list — the apply side of
    * [[bpeTrain]]: each word's character symbols fold through the merges in
    * training priority order (exactly the Sennrich inference rule). Runs on
    * the (word, symbols, freq) VOCAB table, so the per-word fold executes
    * once per distinct word regardless of corpus size; corpus-level token
    * counts re-weight by `freq`, and document-level encoding is a hash join
    * of tokens against this table — vocabulary-keyed, never corpus-keyed.
    *
    * Correctness is self-verifying (the q44/q53 pattern): greedy BPE output
    * must (a) concatenate back to the original word and (b) be a FIXED
    * POINT of the merge rules — no learned pair may remain adjacent. Both
    * reduce to violation counts a SQL oracle checks equal zero. */
  def bpeEncode(vocab: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(vocab) { case (v, (a, b)) =>
      v.withColumn("symbols", bpeMergeSymbols(col("symbols"), a, b))
    }

  /** Per-document cross-document duplicate-span coverage: what fraction of a
    * document's `n`-token windows also appear verbatim in at least one OTHER
    * document. This is the corpus statistic behind exact-substring
    * deduplication (Lee et al. 2022 cut 50-token duplicated spans from C4;
    * Dolma/RefinedWeb publish this coverage per source before deciding
    * cut thresholds) — documents with high coverage are boilerplate or
    * templated copies even when no WHOLE-doc fingerprint matches.
    *
    * Plan shape: one shingle explode feeds (doc, gram) position counts; the
    * gram's distinct-document frequency re-aggregates those partials
    * (gram-keyed — bounded by distinct span vocabulary, not corpus tokens);
    * the join-back keys on gram, and the final per-doc roll-up is one
    * map-side-combined aggregation. Short docs (< n tokens) produce no
    * spans and re-enter with zeros via the left join.
    */
  def dupSpanCoverage(
      docs: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Non-distinct spans with multiplicity: a doc repeating a span that is
    // also cross-duplicated counts every occurrence toward coverage.
    val spans = docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("occ"))
    val gramDocs = spans.groupBy("gram")
      .agg(count(lit(1)).as("gram_docs")) // input is distinct (doc, gram)
    val perDoc = spans.join(gramDocs, "gram")
      .groupBy(col(idCol))
      .agg(sum("occ").as("n_spans"),
        sum(when(col("gram_docs") >= 2, col("occ")).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("dup_span_frac",
        round(when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans"))
          .otherwise(0.0), 6))
  }
}
