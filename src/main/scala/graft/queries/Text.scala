package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Decontamination, Dedup, HeuristicFilters, Layout, Materialize,
  Multimodal, Sampling}

/** Text-analysis + dedup surface over the `documents` fixture (the
  * training-data-pipeline operators from BASELINE.json's north star).
  * Heuristics are closed formulas replicated verbatim in the DuckDB oracle;
  * hashing-based ops (MinHash/SimHash) use xxhash64 and are rows-only
  * checked (no equivalent hash in DuckDB), with semantic tests in ScalaTest.
  */
object Text extends QueryModule {

  /** q106's window geometry: 64-token chunks every 48 tokens (16-token
    * overlap) — the small-context RAG/packing shape; constants shared by
    * the Spark plan and the DuckDB oracle. Defined before `defs`: the
    * oracle SQL strings interpolate them EAGERLY at object init. */
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** The 98-char shared license block q195 prepends to synthesize a
    * boilerplate-degenerate corpus; ScaleRamp's `dedup_capped` family
    * ramps the SAME shape, so one constant keeps query and ramp aligned
    * (the q195 DuckDB oracle necessarily inlines it as a SQL literal —
    * the one copy that must stay in sync by hand). */
  private[graft] val BoilerplateBlock: String =
    "GRAFT STANDARD LICENSE HEADER DO NOT REMOVE THIS " +
      "BLOCK IS IDENTICAL ACROSS EVERY EXPORTED DOCUMENT"

  /** q189's exact-substring spans from plain SQL over `documents_v`, built
    * in two [[Materialize.shared]] frames, mirroring
    * `Dedup.exactSubstrSpansFromGrams` exactly (r15): the gram explode
    * (read by the shared-hash aggregate and the prefilter join —
    * Catalyst's InlineCTE would re-explode per consumer, the r14 1.6x),
    * and the prefiltered CANDIDATE frame (read by both pair-join sides —
    * an un-materialized candidate re-plans its whole subtree per side,
    * running the gh-shuffle aggregate twice). `use` receives the span
    * frame inside the scope, before its checkpoint, so the
    * single-materialization property is visible evidence, not an
    * assertion (r14 verdict #3: the committed plan was the
    * post-checkpoint `Scan ExistingRDD`, which cannot show it): the span
    * plan holds exactly two InMemoryTableScans (the candidate cache on
    * both join sides) and zero Generate nodes. The QueryDef returns the
    * spans; PlanDump dumps the span plan as committed evidence;
    * CatalogSpec pins the counts mechanically. */
  private[graft] def sqlSubstrSpans(s: SparkSession, dir: String)(
      use: DataFrame => DataFrame): DataFrame = {
    graft.GraftSql.registerTables(s, dir, Seq("documents"))
    val grams = s.sql("""SELECT doc_id, pos,
          xxhash64(substring(text, pos, 40)) AS gh
        FROM (SELECT doc_id, text FROM documents_v
              WHERE length(text) >= 40)
        LATERAL VIEW explode(sequence(1, length(text) - 39)) t AS pos""")
    grams.createOrReplaceTempView("substr_grams_v")
    val cand = s.sql("""SELECT g.* FROM substr_grams_v g
        JOIN (SELECT gh FROM substr_grams_v
              GROUP BY gh HAVING min(doc_id) <> max(doc_id)) s USING (gh)""")
    cand.createOrReplaceTempView("substr_cand_v")
    val spans = s.sql("""WITH
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
          a.pos - b.pos AS diag
        FROM substr_cand_v a JOIN substr_cand_v b
          ON a.gh = b.gh AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
          pos_a - row_number() OVER (
            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
        FROM m)
      SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
        CAST(min(pos_a) - diag AS BIGINT) AS start_b,
        CAST(count(*) + 39 AS BIGINT) AS span_len
      FROM r GROUP BY doc_a, doc_b, diag, run_id
      ORDER BY doc_a, doc_b, start_a, start_b""")
    Materialize.shared(grams, cand)(use(spans))
  }

  /** q72's corpus build, also ramped by `ScaleRamp`'s funnel family: hold
    * out an eval slice (`doc_id % 97 == 0`) and decontaminate against it ->
    * language/quality gates -> near-dup CLUSTER survivors -> mixture
    * resampling to target language shares -> deterministic split ->
    * per-(split, lang) document and token counts.
    *
    * NOT spread before the decontamination gate (r19, measured): the
    * gate's distinctShingles probe + the langId/qualityScore kernels run
    * on the scan's splits (557 ms single-task at fixture scale — the gate
    * is map-only by design). A Layout.spread of (id, text) here A/B-benched
    * NEUTRAL (5-rep q72 min 4.52 -> 4.36 s, inside the day's ±0.5 s host
    * band) because the fill overlaps the pipeline's other jobs, and at
    * production scan parallelism the exchange is a pure extra corpus pass
    * (guide §8 anti-pattern) — unlike the Dedup signature spreads, nothing
    * downstream of this gate shuffles more bytes than the exchange itself
    * would.
    *
    * `gated` (decontamination + gates) feeds the near-dup pipeline and the
    * cluster join; left lazy it re-runs per consumer (measured 8.0 s at
    * sf0.1 vs 5.4 s materialized). It is shared across the survivor-id
    * computation only: the cheap tail stages re-derive text from `docs`
    * (a fresh pushdown parquet scan) keyed by the TINY survivor-id frame,
    * one (id, lang) row per survivor. */
  private[graft] def curationFunnel(docs: DataFrame): DataFrame = {
    val clean = Decontamination.clean(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0))
    val gated = clean.select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .filter(col("lang_pred") =!= "unknown" && col("quality") >= 0.4)
    val survIds = Materialize.shared(gated) {
      val clusters = Dedup.nearDupClusters(
        Dedup.minhashNearDups(gated, threshold = 0.5))
      gated.join(clusters, Seq("doc_id"), "left")
        .filter(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
        .select(col("doc_id"), col("lang_pred"))
    }
    val surv = docs.select(col("doc_id"), col("text")).join(survIds, "doc_id")
    val mixed = Sampling.resampleToMixture(surv, "lang_pred",
      shares = Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "es" -> 0.15))
    Sampling.deterministicSplit(mixed, valFraction = 0.1)
      .groupBy(col("split"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("n_tokens"))
  }

  // DuckDB fragments mirroring TextFunctions
  private val wsSql = """string_split_regex(trim(text), '\s+')"""
  private val shinglesSql =
    s"""CASE WHEN len($wsSql) < 3 THEN CAST([] AS VARCHAR[])
        ELSE list_distinct(list_transform(range(1, len($wsSql) - 1),
          i -> $wsSql[i] || ' ' || $wsSql[i+1] || ' ' || $wsSql[i+2])) END"""
  // The near-dup CC oracle of q58, q59, q101, q115 and q116: exhaustive
  // shingle-Jaccard pairs at >= 0.5 (`pairs`) and, per doc in some pair,
  // the minimum doc id it reaches by a recursive transitive closure
  // (`mins`: node, mn). Callers append their own CTEs and final SELECT.
  private val nearDupMinsSql =
    s"""WITH RECURSIVE s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
            len(a.sh) AS la, len(b.sh) AS lb
          FROM s a JOIN s b ON a.doc_id < b.doc_id),
        pairs AS (
          SELECT id_a, id_b FROM jp
          WHERE round(CASE WHEN la + lb - i > 0 THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach AS (
          SELECT src AS node, dst AS r FROM edges
          UNION
          SELECT e.src AS node, t.r FROM edges e JOIN reach t ON e.dst = t.node),
        mins AS (SELECT node, MIN(r) AS mn FROM reach GROUP BY node)"""
  // DuckDB fragments mirroring HeuristicFilters.qualityProfile (q77/q78).
  // Every gate is integer arithmetic on both sides (see HeuristicFilters) —
  // no float-boundary risk in the keep decisions.
  private val heurStopListSql =
    HeuristicFilters.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
  private val heurStatsSql =
    s"""w AS (SELECT doc_id, lower(text) AS lt, text,
        list_filter($wsSql, x -> len(x) > 0) AS ws FROM documents),
      st AS (SELECT doc_id,
        len(ws) AS n_words,
        COALESCE(list_aggregate(list_transform(ws, x -> len(x)), 'sum'), 0) AS sum_len,
        len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
        len(list_filter(ws, x -> contains(x, '#') OR contains(x, '…')
          OR contains(x, '...'))) AS n_sym,
        len(list_intersect(list_distinct(ws), $heurStopListSql)) AS stop_hits,
        (NOT contains(lt, 'lorem ipsum')) AND (NOT contains(text, '{'))
          AND (NOT contains(lt, 'javascript')) AS g_c4
        FROM w)"""
  private val heurGateWcSql =
    s"(n_words >= ${HeuristicFilters.MinWords} AND n_words <= ${HeuristicFilters.MaxWords})"
  private val heurGateWlSql =
    s"(sum_len >= ${HeuristicFilters.MinMeanWordLen} * n_words" +
      s" AND sum_len <= ${HeuristicFilters.MaxMeanWordLen} * n_words)"
  private val heurGateSymSql = "(10 * n_sym <= n_words)"
  private val heurGateAlphaSql = "(5 * n_alpha >= 4 * n_words)"
  private val heurGateStopSql = s"(stop_hits >= ${HeuristicFilters.MinStopHits})"
  private val heurKeepSql =
    s"($heurGateWcSql AND $heurGateWlSql AND $heurGateSymSql" +
      s" AND $heurGateAlphaSql AND $heurGateStopSql AND g_c4)"

  // Non-distinct n-gram lists (document order, duplicates kept) for the
  // frequency-based operators (q63/q65).
  private val grams2Sql =
    s"""CASE WHEN len($wsSql) < 2 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(1, len($wsSql)),
          i -> $wsSql[i] || ' ' || $wsSql[i+1]) END"""
  private val grams3Sql =
    s"""CASE WHEN len($wsSql) < 3 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(1, len($wsSql) - 1),
          i -> $wsSql[i] || ' ' || $wsSql[i+1] || ' ' || $wsSql[i+2]) END"""
  // TextFunctions.qualityScore / fingerprint as SQL (shared by q31/q33/q68)
  private val qualitySql =
    s"""round(least(len($wsSql) / 100.0, 1.0) * 0.4
        + (CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)
            ELSE 0.0 END) * 0.4
        + (1.0 - CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text)
            ELSE 0.0 END) * 0.2, 4)"""
  private val fingerprintSql =
    """md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))"""
  // TextFunctions.langId as SQL: per-language marker hit counts (select-list
  // fragment) + the argmax CASE over them (shared by q32/q68)
  private val langScoreSql: String = TextFunctions.langMarkers.map { case (lang, ws) =>
    val sum = ws.map(w =>
      s"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"($sum) AS s_$lang"
  }.mkString(", ")
  private val langPredSql: String = {
    val langs = TextFunctions.langMarkers.map(_._1)
    val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseExpr = langs.map(l =>
      s"WHEN s_$l > 0 AND s_$l = $maxExpr THEN '$l'").mkString(" ")
    s"CASE $caseExpr ELSE 'unknown' END"
  }

  def defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q30
    QueryDef("q30_token_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
            TextFunctions.tokenCount($"text").as("n_tokens"),
            TextFunctions.bpeishTokenCount($"text").as("n_bpeish"),
            length($"text").as("n_chars_calc"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
        CAST(len($wsSql) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
        CAST(length(text) AS INTEGER) AS n_chars_calc
        FROM documents ORDER BY doc_id""")),

    // --------------------------------------------------------------- q183
    // Tokenizer fertility by language — the compression telemetry a
    // tokenizer evaluation reports (chars per token, subword tokens per
    // whitespace word; Rust/SentencePiece eval convention). Integer sums
    // per language (exact, order-free), ONE double division per ratio at
    // the edge, rounded to the shared grid. Map-side-combined single
    // aggregation; nothing joins.
    QueryDef("q183_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"lang",
            length($"text").cast("long").as("chars"),
            TextFunctions.tokenCount($"text").as("words"),
            TextFunctions.bpeishTokenCount($"text").as("bpe"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"chars").as("total_chars"),
            sum($"words").as("total_words"),
            sum($"bpe").as("total_bpe"))
          .select($"lang", $"n_docs", $"total_chars", $"total_words",
            $"total_bpe",
            round($"total_chars".cast("double") / $"total_bpe", 6)
              .as("chars_per_bpe_token"),
            round($"total_bpe".cast("double") / $"total_words", 6)
              .as("bpe_per_word"))
          .orderBy($"lang")
      },
      Some(s"""WITH d AS (SELECT lang,
            CAST(length(text) AS BIGINT) AS chars,
            CAST(len($wsSql) AS BIGINT) AS words,
            CAST(len(regexp_extract_all(text,
              '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe
          FROM documents)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(chars) AS BIGINT) AS total_chars,
          CAST(sum(words) AS BIGINT) AS total_words,
          CAST(sum(bpe) AS BIGINT) AS total_bpe,
          round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 6)
            AS chars_per_bpe_token,
          round(CAST(sum(bpe) AS DOUBLE) / sum(words), 6) AS bpe_per_word
        FROM d GROUP BY lang ORDER BY lang""")),

    // ---------------------------------------------------------------- q31
    QueryDef("q31_quality_score",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", TextFunctions.qualityScore($"text").as("quality"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, $qualitySql AS quality
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q32
    QueryDef("q32_lang_id",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", $"lang", TextFunctions.langId($"text").as("lang_pred"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, lang, $langPredSql AS lang_pred
        FROM (SELECT doc_id, lang, text, $langScoreSql FROM documents)
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q33
    QueryDef("q33_fingerprint",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS fp
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q34
    // Exact dedup: one shuffle on the content fingerprint.
    QueryDef("q34_exact_dedup",
      (s, dir) => {
        import s.implicits._
        Dedup.exact(t(s, dir, "documents")).orderBy($"content_hash")
      },
      Some("""SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS content_hash,
        min(doc_id) AS canonical_id, count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY content_hash""")),

    // ---------------------------------------------------------------- q35
    QueryDef("q35_shingle_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
            size(TextFunctions.distinctShingles($"text", 3)).as("n_shingles"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, CAST(len($shinglesSql) AS INTEGER) AS n_shingles
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q36
    // Exact n-gram Jaccard on adjacent doc-id pairs (linear, oracle-able);
    // the LSH-candidate version is q37/tested in DedupSpec.
    // Shingles are computed BEFORE the join on purpose: jaccard references
    // each array multiple times (intersect + sizes), and computing the
    // arrays inline after the join re-evaluates the shingle subtree per
    // reference (no CSE across HOF lambdas — measured 2.9 s vs 2.2 s at
    // sf0.1), which costs more than the ~3x shuffle-byte inflation of
    // shipping arrays instead of text.
    QueryDef("q36_jaccard_pairs",
      (s, dir) => {
        import s.implicits._
        val sh = t(s, dir, "documents")
          .select($"doc_id", TextFunctions.distinctShingles($"text", 3).as("sh"))
        sh.as("a").join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            round(TextFunctions.jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
          .orderBy($"id_a")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS s FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CASE WHEN (len(a.s) + len(b.s))
                  - len(list_filter(a.s, x -> list_contains(b.s, x))) > 0
            THEN CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
                 / (CAST(len(a.s) + len(b.s) AS DOUBLE)
                    - len(list_filter(a.s, x -> list_contains(b.s, x))))
            ELSE 0.0 END, 6) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        ORDER BY id_a""")),

    // ---------------------------------------------------------------- q37
    // MinHash signatures via the corpus-scale explode + hash-aggregate form.
    // xxhash64 has no DuckDB equivalent, so the oracle-checkable contract is
    // internal parity: the scale form must agree BIT-FOR-BIT with the
    // independent per-row HOF form on a bounded doc subset (the HOF form is
    // interpreted — O(k) array walks per row — hence the bound). The oracle
    // verifies the subset size and that mismatches = 0.
    QueryDef("q37_minhash_signature",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").filter($"doc_id" < 200)
        val tbl = Dedup.minhashSignatureTable(docs, k = 16)
        val perRow = docs.select($"doc_id".as("id"),
          Dedup.minhashSignature($"text", k = 16).as("sig2"))
        tbl.join(perRow, "id")
          .agg(count(lit(1)).as("checked_docs"),
            count_if(!($"sig" === $"sig2")).as("mismatches"))
      },
      Some("""SELECT count(*) AS checked_docs, CAST(0 AS BIGINT) AS mismatches
        FROM documents WHERE doc_id < 200""")),

    // ---------------------------------------------------------------- q38
    // SimHash fingerprints via the corpus-scale explode form; same internal
    // parity contract as q37 (scale form == per-row form, oracle checks the
    // subset size and zero mismatches; near-dup banding tested in DedupSpec).
    QueryDef("q38_simhash",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").filter($"doc_id" < 200)
        val tbl = Dedup.simhashTable(docs)
        val perRow = docs.select($"doc_id".as("id"),
          Dedup.simhash($"text").as("sim2"))
        tbl.join(perRow, "id")
          .agg(count(lit(1)).as("checked_docs"),
            count_if($"simhash" =!= $"sim2").as("mismatches"))
      },
      Some("""SELECT count(*) AS checked_docs, CAST(0 AS BIGINT) AS mismatches
        FROM documents WHERE doc_id < 200""")),

    // ---------------------------------------------------------------- q46
    // The flagship near-dup pipeline: MinHash banding -> candidate pairs ->
    // exact-Jaccard refinement. The banding is xxhash64-based, but the
    // REFINED output is fully checkable: the fixture's pair-similarity
    // distribution is bimodal (true dups j>=0.9, everything else j<0.07),
    // so at threshold 0.5 banding recall is exactly 1 and the result equals
    // DuckDB's exhaustive all-pairs Jaccard — verified empirically at
    // sf0.01/sf0.001. Scale story: candidates join only within
    // (band, bucket); the O(n^2) all-pairs scan exists ONLY on the oracle
    // side.
    QueryDef("q46_minhash_neardups",
      (s, dir) => {
        import s.implicits._
        Dedup.minhashNearDups(t(s, dir, "documents"), threshold = 0.5)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
            len(a.sh) AS la, len(b.sh) AS lb
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          round(CASE WHEN la + lb - i > 0 THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) AS jaccard
        FROM pairs
        WHERE round(CASE WHEN la + lb - i > 0 THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) >= 0.5
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q47
    // Same exhaustive contract through the ENSEMBLE path: MinHash-banding
    // and SimHash-block candidates unioned, then exact-Jaccard refinement.
    // SimHash alone guarantees recall only up to hamming blocks-1, and
    // short-doc bit noise measurably exceeds that (hamming 9 at j=0.889 on
    // ~10-token docs), so the jaccard-threshold-complete query is the
    // ensemble — each generator covers the other's blind spot, both remain
    // bucket joins (sub-quadratic; the O(n^2) scan exists only oracle-side).
    // simhashNearDups' own hamming-bounded contract is pinned in DedupSpec.
    QueryDef("q47_ensemble_neardups",
      (s, dir) => {
        import s.implicits._
        Dedup.ensembleNearDups(t(s, dir, "documents"), threshold = 0.5)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
            len(a.sh) AS la, len(b.sh) AS lb
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          round(CASE WHEN la + lb - i > 0 THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) AS jaccard
        FROM pairs
        WHERE round(CASE WHEN la + lb - i > 0 THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) >= 0.5
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q58
    // Cluster canonicalization: near-dup PAIRS -> connected components ->
    // one canonical id (the component minimum) per document, singletons
    // keeping their own id. This is the step a real dedup pipeline runs
    // after pair generation — chained near-dups (A~B~C) must collapse into
    // ONE cluster even when A!~C directly. Spark side: min-label
    // propagation with pointer jumping (O(log diameter) joined rounds);
    // oracle side: exhaustive pairs + a recursive-CTE transitive closure —
    // the O(n^2)/recursive work exists only in DuckDB.
    QueryDef("q58_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val clusters = Dedup.nearDupClusters(
          Dedup.minhashNearDups(docs, threshold = 0.5))
        docs.select($"doc_id")
          .join(clusters, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"cluster_id", $"doc_id").as("cluster_id"))
          .orderBy($"doc_id")
      },
      Some(s"""$nearDupMinsSql
        SELECT d.doc_id,
          COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
        ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- q59
    // The deduplicated corpus: near-dup clusters (q58's machinery) filtered
    // to the canonical member of each cluster — "which documents survive
    // dedup", the actual deliverable of the dedup family. Singletons (no
    // near-dup) survive by definition.
    QueryDef("q59_deduped_corpus",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val clusters = Dedup.nearDupClusters(
          Dedup.minhashNearDups(docs, threshold = 0.5))
        docs.join(clusters, Seq("doc_id"), "left")
          .filter(coalesce($"cluster_id", $"doc_id") === $"doc_id")
          .select($"doc_id", TextFunctions.tokenCount($"text").as("n_tokens"))
          .orderBy($"doc_id")
      },
      Some(s"""$nearDupMinsSql
        SELECT d.doc_id, CAST(len($wsSql) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
        WHERE COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) = d.doc_id
        ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- q60
    // Deterministic hash split: the split decision is substr(md5(salt||id),
    // 1, 8) compared against floor(fraction * 2^32) as fixed-width hex —
    // lexicographic == numeric, no float rounding, reproducible by ANY
    // engine with md5 (the oracle runs the identical expression). Per-row,
    // shuffle-free; a rand() split has none of these properties.
    QueryDef("q60_hash_split",
      (s, dir) => {
        import s.implicits._
        graft.operators.Sampling.deterministicSplit(
            t(s, dir, "documents"), valFraction = 0.1)
          .select($"doc_id", $"split")
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
        CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '${graft.operators.Sampling.fractionThresholdHex(0.1)}'
             THEN 'val' ELSE 'train' END AS split
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q61
    // Sharded sequence packing: shard-local running token sums assign each
    // document a (shard, bin) of ~budget tokens — the pre-tokenization
    // batch grouping for LLM training. The window partitions by the shard
    // key FIRST: a global-order running sum is a one-partition window, the
    // classic scale trap this operator exists to avoid.
    QueryDef("q61_token_packing",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", TextFunctions.tokenCount($"text").as("n_tokens"))
        graft.operators.Sampling.packByTokenBudget(docs, "n_tokens",
            budget = 256, shards = 8)
          .select($"doc_id", $"shard", $"tokens_before", $"bin")
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, doc_id % 8 AS shard, CAST(len($wsSql) AS BIGINT) AS n
          FROM documents),
        cum AS (
          SELECT doc_id, shard,
            CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
              AS tokens_before
          FROM toks)
        SELECT doc_id, shard, tokens_before,
          CAST(FLOOR(tokens_before / 256.0) AS BIGINT) AS bin
        FROM cum ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q62
    // Benchmark decontamination: training docs sharing word 3-grams with a
    // deterministic held-out eval slice (doc_id % 97 == 0). The eval gram
    // set broadcasts (benchmark suites are tiny next to the corpus), so the
    // corpus side streams through a broadcast join with NO corpus shuffle;
    // the only shuffle is the per-doc overlap count. The oracle runs the
    // identical set algebra exhaustively.
    QueryDef("q62_decontamination",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Decontamination.overlap(
            corpus = docs.filter($"doc_id" % 97 =!= 0),
            evalDocs = docs.filter($"doc_id" % 97 === 0))
          .orderBy($"doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSql AS s FROM documents),
        ev AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 97 <> 0)
        SELECT doc_id, count(*) AS n_shared
        FROM tr JOIN ev USING (gram)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q63
    // Gopher-style repetition signals: per-doc 2-gram total/distinct/top
    // counts and the derived duplicate-gram and top-gram fractions — the
    // quality gates that catch boilerplate and degenerate repetition. One
    // explode, two partially-aggregated shuffles; docs below 2 tokens
    // re-enter via the left join with zero defaults.
    QueryDef("q63_repetition_stats",
      (s, dir) => {
        import s.implicits._
        CorpusStats.repetitionStats(t(s, dir, "documents"), n = 2)
          .orderBy($"doc_id")
      },
      Some(s"""WITH g AS (SELECT doc_id, unnest($grams2Sql) AS gram FROM documents),
        pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        pd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
               count(*) AS n_distinct_grams, CAST(max(cnt) AS BIGINT) AS top_gram_count
               FROM pg GROUP BY 1)
        SELECT d.doc_id,
          CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
          CAST(COALESCE(n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams,
          CAST(COALESCE(top_gram_count, 0) AS BIGINT) AS top_gram_count,
          round(CASE WHEN COALESCE(n_grams, 0) > 0
            THEN 1.0 - n_distinct_grams * 1.0 / n_grams ELSE 0.0 END, 6) AS dup_gram_frac,
          round(CASE WHEN COALESCE(n_grams, 0) > 0
            THEN top_gram_count * 1.0 / n_grams ELSE 0.0 END, 6) AS top_gram_frac
        FROM documents d LEFT JOIN pd USING (doc_id)
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q64
    // Deterministic domain-mixture sampling: per-language keep rates turn
    // raw corpus proportions into a training mixture. Per-row md5 decision,
    // shuffle-free, reproduced bit-for-bit by the oracle's identical CASE.
    QueryDef("q64_domain_mix",
      (s, dir) => {
        import s.implicits._
        Sampling.weightedSample(t(s, dir, "documents"), "lang",
            rates = Map("en" -> 0.35, "zh" -> 1.0, "de" -> 0.5),
            defaultRate = 0.8)
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, lang FROM documents
        WHERE substr(md5('graft-mix' || CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE lang WHEN 'de' THEN '${Sampling.rateThresholdHex(0.5)}'
                    WHEN 'en' THEN '${Sampling.rateThresholdHex(0.35)}'
                    WHEN 'zh' THEN '${Sampling.rateThresholdHex(1.0)}'
                    ELSE '${Sampling.rateThresholdHex(0.8)}' END
        ORDER BY doc_id""")),

    // --------------------------------------------------------------- q165
    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    // top-10 per language by the exponential key ln(u)/w, u drawn
    // deterministically from the id's md5, w = n_chars — longer documents
    // proportionally likelier, no row ever drawn twice, one window per
    // stratum instead of a sequential reservoir. u is bit-identical
    // cross-engine (same BIGINT -> double rounding, same exact 2^60
    // divisor), and keys round to the 6-dp grid before ranking so the ln
    // ulp never flips an order. The quality-weighted corpus-subset recipe
    // at 100 TB: one scan, one bounded shuffle.
    QueryDef("q165_weighted_reservoir",
      (s, dir) => {
        import s.implicits._
        Sampling.weightedReservoir(t(s, dir, "documents"),
            weight = $"n_chars", k = 10, strataCols = Seq("lang"))
          .select($"lang", $"doc_id", $"n_chars", $"aes_key", $"rank")
          .orderBy($"lang", $"rank")
      },
      Some("""WITH d AS (SELECT lang, doc_id, n_chars,
            CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|graft-aes'),
              1, 15)) AS BIGINT) AS h
          FROM documents WHERE n_chars > 0),
        kye AS (SELECT lang, doc_id, n_chars,
            round(ln((h + 1.0) / 1152921504606846976.0) / n_chars, 6) AS aes_key
          FROM d),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
            ORDER BY aes_key DESC, doc_id) AS INTEGER) AS rank FROM kye)
        SELECT lang, doc_id, n_chars, aes_key, rank FROM rk
        WHERE rank <= 10 ORDER BY lang, rank""")),

    // ---------------------------------------------------------------- q65
    // Corpus top-k n-grams: the global frequency ranking behind stop-list
    // construction and contamination triage. Explode -> partial agg -> one
    // shuffle on gram -> TakeOrderedAndProject (k rows per partition cross
    // the wire; no global sort). Total order via the (count desc, gram asc)
    // tie-break.
    QueryDef("q65_ngram_topk",
      (s, dir) => {
        import s.implicits._
        CorpusStats.topNgrams(t(s, dir, "documents"), n = 3, k = 50)
      },
      Some(s"""WITH g AS (SELECT unnest($grams3Sql) AS gram FROM documents)
        SELECT gram, count(*) AS cnt FROM g GROUP BY gram
        ORDER BY cnt DESC, gram LIMIT 50""")),

    // ---------------------------------------------------------------- q66
    // Per-doc top-5 terms by smoothed tf-idf. One tokenize feeds tf; df
    // re-aggregates tf; N joins in as a broadcast scalar; the top-k window
    // partitions by document. ln() is the one non-IEEE-exact op in the
    // score — round(,6) absorbs the ulp-level libm divergence between
    // JVM and DuckDB.
    QueryDef("q66_tfidf_topterms",
      (s, dir) => {
        import s.implicits._
        CorpusStats.tfidfTopTerms(t(s, dir, "documents"), k = 5)
          .orderBy($"doc_id", $"term")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($wsSql) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
          WHERE len(term) > 0 GROUP BY 1, 2),
        dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT doc_id, term, tf,
          round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
          FROM tf JOIN dfx USING (term) CROSS JOIN n)
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rn FROM scored)
        WHERE rn <= 5 ORDER BY doc_id, term""")),

    // ---------------------------------------------------------------- q67
    // Per-domain quota: at most 10 docs per source, chosen by hash order
    // (uniform, reproducible, reorder-stable — not "first 10 encountered").
    // The row_number window partitions by source, so the sort distributes
    // across domains.
    QueryDef("q67_domain_cap",
      (s, dir) => {
        import s.implicits._
        Sampling.capPerCategory(t(s, dir, "documents"), "source", k = 10)
          .select($"doc_id", $"source")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source FROM (
          SELECT doc_id, source, row_number() OVER (PARTITION BY source
            ORDER BY substr(md5('graft-cap' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
          FROM documents)
        WHERE rn <= 10 ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q68
    // The curation funnel end-to-end: language gate -> quality gate ->
    // repetition gate -> exact-dedup survivors -> deterministic split ->
    // per-(split, lang) doc/token accounting. This is the composition a
    // real corpus pipeline runs nightly; every stage is an operator this
    // catalog already verifies in isolation, and the oracle re-derives the
    // whole funnel from the shared SQL fragments. Gates compare ROUNDED
    // scores (quality@4, dup_frac@6) so both engines make identical keep
    // decisions at the thresholds. Plan shape: per-row scoring in one
    // codegen stage, the repetition profile's two partial-agg shuffles, one
    // fp-window for survivors, one final partial-agg shuffle — no
    // collects, no global sorts before the 10-row result.
    QueryDef("q68_curation_funnel",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val profiled = docs.select($"doc_id", $"text",
          TextFunctions.langId($"text").as("lang_pred"),
          TextFunctions.qualityScore($"text").as("quality"),
          TextFunctions.fingerprint($"text").as("fp"))
        val rep = CorpusStats.repetitionStats(docs, n = 2)
          .select($"doc_id", $"dup_gram_frac")
        val gated = profiled.join(rep, "doc_id")
          .filter($"lang_pred" =!= "unknown" &&
            $"quality" >= 0.5 && $"dup_gram_frac" <= 0.6)
        val surv = gated.withColumn("rn",
            row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
          .filter($"rn" === 1)
        Sampling.deterministicSplit(surv, valFraction = 0.1)
          .groupBy($"split", $"lang_pred")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.tokenCount($"text")).as("n_tokens"))
          .orderBy($"split", $"lang_pred")
      },
      Some(s"""WITH scored AS (SELECT doc_id, text, $langScoreSql FROM documents),
        base AS (SELECT doc_id, text, $langPredSql AS lang_pred,
          $qualitySql AS quality, $fingerprintSql AS fp FROM scored),
        pg AS (SELECT doc_id, gram, count(*) AS cnt
          FROM (SELECT doc_id, unnest($grams2Sql) AS gram FROM documents)
          GROUP BY 1, 2),
        rep AS (SELECT doc_id,
          round(CASE WHEN sum(cnt) > 0
            THEN 1.0 - count(*) * 1.0 / sum(cnt) ELSE 0.0 END, 6) AS dup_gram_frac
          FROM pg GROUP BY doc_id),
        gated AS (SELECT b.doc_id, b.text, b.lang_pred, b.fp
          FROM base b LEFT JOIN rep r USING (doc_id)
          WHERE b.lang_pred <> 'unknown' AND b.quality >= 0.5
            AND COALESCE(r.dup_gram_frac, 0.0) <= 0.6),
        surv AS (SELECT doc_id, text, lang_pred,
            row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM gated),
        final AS (SELECT doc_id, text, lang_pred,
            CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split
          FROM surv WHERE rn = 1)
        SELECT split, lang_pred, count(*) AS n_docs,
          CAST(sum(len($wsSql)) AS BIGINT) AS n_tokens
        FROM final GROUP BY 1, 2 ORDER BY split, lang_pred""")),

    // ---------------------------------------------------------------- q69
    // Passage-level near-dup candidates (winnowing-fingerprint bucket
    // join, the suffix-array-dedup stand-in) cross-checked against the
    // INDEPENDENT minhash family: every pair the minhash pipeline refines
    // to jaccard >= 0.9 shares long verbatim word runs, so the winnowing
    // guarantee (any shared normalized substring >= k+w-1 chars selects a
    // common fingerprint) must make it a passage candidate at
    // minShared=1. The oracle re-derives the >=0.9 pair count from its
    // own exhaustive all-pairs scan; `missed_highsim` = 0 is the
    // cross-family completeness pin, `has_pairs` the non-vacuousness pin
    // (verified non-vacuous at all three SFs).
    //
    // The CONTRACT is bounded to doc_id < 500 — the q37/q57 pattern: the
    // oracle side is an O(n^2) exhaustive scan, and this fixture's ~30-word
    // vocabulary makes 15-char normalized substrings coincide across a
    // large fraction of ALL doc pairs, so the passage-candidate set itself
    // is inherently near-quadratic HERE (measured 28 s at sf0.1 unbounded
    // vs sub-second bounded; a real corpus's passage-sharing rate is what
    // bounds the operator at scale, plus the occupancy guard for
    // boilerplate fingerprints).
    // highsim_pairs is computed by the SAME bounded exhaustive all-pairs
    // Jaccard on BOTH sides (doc_id < 500 -> <=125k pairs, trivially cheap):
    // a probabilistic candidate generator (minhash banding, miss prob ~4e-8
    // per pair at j>=0.9) must never be hash-compared against an exhaustive
    // oracle — the r6 driver-red row. The winnowing operator under test
    // contributes only the candidate side of the missed_highsim anti-join.
    QueryDef("q69_passage_candidates",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").filter($"doc_id" < 500)
        val cand = Dedup.sharedFingerprintPairs(docs, minShared = 1)
        // Materialize the shingle arrays BEFORE the self-join: the optimizer
        // inlines a projection into the nested-loop join's filter, so without
        // a barrier every one of the ~125k pairs would recompute BOTH sides'
        // shingle-building (measured 6.7 s -> 1.6 s for the pair scan). The
        // spread gives the 500 rows the session width before they are
        // materialized, so the pair scan runs one task per core. A widthless
        // repartition would be coalesced by AQE to one partition, and the
        // scan with it (PROFILING.md, "q69: the pair scan on one task").
        val shingled = docs
          .select($"doc_id", TextFunctions.distinctShingles($"text", 3).as("sh"))
          .withColumn("ln", size($"sh"))
        val sh = Materialize.shared()(Layout.spread(shingled, col("doc_id")))
        // The set intersect dominates the exhaustive scan — and left in one
        // plan the optimizer merges the Jaccard filter INTO the nested-loop
        // join condition AHEAD of the cheap predicates (plan-audited), so the
        // triple-array_intersect CASE ran on all ~125k combos (~7.5 s). Two
        // exact cuts fix it: (1) the similarity-join LENGTH FILTER —
        // round(j,6) >= 0.9 forces |A∩B| >= 0.8999995·|A∪B|, and
        // min(|A|,|B|) >= |A∩B|, max(|A|,|B|) <= |A∪B|, so any qualifying
        // pair has min >= 0.8999·max (the AllPairs/PPJoin family bound) —
        // two int compares prune 125k -> ~15k pairs inside the join; (2) a
        // materialized pruned pair frame as a barrier so the intersect
        // evaluates ONCE per surviving pair in a codegen'd projection, never
        // inside the join condition. The oracle needs no mirror: neither cut
        // can drop a qualifying pair, so both sides still compute the
        // identical count.
        val pruned = Materialize.shared()(sh.as("a").join(sh.as("b"),
            col("a.doc_id") < col("b.doc_id") &&
              least(col("a.ln"), col("b.ln")).cast("double") >=
                greatest(col("a.ln"), col("b.ln")).cast("double") * lit(0.8999))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.sh").as("sh_a"), col("b.sh").as("sh_b"),
            (col("a.ln") + col("b.ln")).cast("double").as("sz")))
        val high = Materialize.shared()(pruned
          .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")).cast("double"))
          .filter(round(when($"sz" - $"inter" > 0.0, $"inter" / ($"sz" - $"inter"))
            .otherwise(0.0), 6) >= 0.9)
          .select($"id_a", $"id_b"))
        val missed = high.join(cand, Seq("id_a", "id_b"), "left_anti")
        cand.agg((count(lit(1)) > 0).as("has_pairs"))
          .crossJoin(high.agg(count(lit(1)).as("highsim_pairs")))
          .crossJoin(missed.agg(count(lit(1)).as("missed_highsim")))
      },
      Some(s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents
          WHERE doc_id < 500),
        jp AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
            len(a.sh) AS la, len(b.sh) AS lb
          FROM s a JOIN s b ON a.doc_id < b.doc_id)
        SELECT CAST(1 AS BOOLEAN) AS has_pairs,
          CAST(count_if(round(CASE WHEN la + lb - i > 0
            THEN CAST(i AS DOUBLE) / (la + lb - i)
            ELSE 0.0 END, 6) >= 0.9) AS BIGINT) AS highsim_pairs,
          CAST(0 AS BIGINT) AS missed_highsim
        FROM jp""")),

    // ---------------------------------------------------------------- q70
    // Mixture planning: per-language keep rates achieving a target mixture
    // with maximum retention (K = min n_c/share_c; rate = K*share/n; the
    // binding category keeps everything). The corpus is touched once, by
    // the count; the global min is a one-row broadcast cross join. q64
    // executes a plan like this; q70 is where the plan comes from.
    QueryDef("q70_mixture_plan",
      (s, dir) => {
        import s.implicits._
        Sampling.mixtureRates(t(s, dir, "documents"), "lang",
            shares = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2,
              "es" -> 0.15, "zh" -> 0.05))
          .orderBy($"category")
      },
      Some("""WITH counts AS (SELECT lang AS category, count(*) AS n
          FROM documents GROUP BY 1),
        s AS (SELECT category, n,
          CASE category WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                        WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                        WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                        WHEN 'fr' THEN CAST(0.2 AS DOUBLE)
                        WHEN 'zh' THEN CAST(0.05 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS share
          FROM counts),
        k AS (SELECT min(CASE WHEN share > 0 THEN n / share END) AS k_total FROM s)
        SELECT category, n, share,
          round(CASE WHEN share > 0
            THEN least(CAST(1.0 AS DOUBLE), k_total * share / n)
            ELSE 0.0 END, 6) AS rate
        FROM s CROSS JOIN k ORDER BY category""")),

    // ---------------------------------------------------------------- q71
    // Mixture resampling end-to-end IN ONE PLAN: the q70 rate table
    // broadcasts back onto the corpus and each row's keep decision derives
    // from its category's rate — plan -> threshold -> filter with no
    // driver collect (the only aggregate is the vocabulary-sized category
    // count). The oracle computes the identical rates, hex thresholds, and
    // md5 decisions in SQL. Rates are compared AFTER their round(,6), so
    // both engines floor the same double into the same 8-hex threshold.
    QueryDef("q71_planned_mix",
      (s, dir) => {
        import s.implicits._
        Sampling.resampleToMixture(t(s, dir, "documents"), "lang",
            shares = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2,
              "es" -> 0.15, "zh" -> 0.05))
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some("""WITH counts AS (SELECT lang AS category, count(*) AS n
          FROM documents GROUP BY 1),
        s AS (SELECT category, n,
          CASE category WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                        WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                        WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                        WHEN 'fr' THEN CAST(0.2 AS DOUBLE)
                        WHEN 'zh' THEN CAST(0.05 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS share
          FROM counts),
        k AS (SELECT min(CASE WHEN share > 0 THEN n / share END) AS k_total FROM s),
        rates AS (SELECT category,
          round(CASE WHEN share > 0
            THEN least(CAST(1.0 AS DOUBLE), k_total * share / n)
            ELSE 0.0 END, 6) AS rate
          FROM s CROSS JOIN k),
        thr AS (SELECT category,
          CASE WHEN rate >= 1.0 THEN 'g'
               ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
          END AS keep_thr
          FROM rates)
        SELECT d.doc_id, d.lang
        FROM documents d JOIN thr t ON d.lang = t.category
        WHERE substr(md5('graft-mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t.keep_thr
        ORDER BY d.doc_id""")),

    // ---------------------------------------------------------------- q72
    // THE complete corpus build, one declarative plan: hold out an eval
    // slice and decontaminate against it -> language/quality gates ->
    // near-dup CLUSTER survivors (connected components, not just exact
    // dedup) -> mixture resampling to target language shares (rates derived
    // in-plan from survivor counts) -> deterministic split -> per-(split,
    // lang) accounting. Every stage is an operator this catalog verifies in
    // isolation (q62, q31/q32, q46+q58, q70+q71, q60); the oracle
    // re-derives the entire pipeline — including the recursive-CTE
    // transitive closure and the rate->hex-threshold arithmetic — from the
    // shared SQL fragments. No driver collect anywhere; the only
    // non-sub-quadratic work (exhaustive pairs, recursive closure) exists
    // oracle-side.
    QueryDef("q72_full_pipeline",
      (s, dir) => curationFunnel(t(s, dir, "documents"))
        .orderBy(col("split"), col("lang_pred")),
      Some(s"""WITH RECURSIVE
        sh3 AS (SELECT doc_id, $shinglesSql AS s FROM documents),
        ev AS (SELECT DISTINCT unnest(s) AS gram FROM sh3 WHERE doc_id % 97 = 0),
        tainted AS (SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, unnest(s) AS gram FROM sh3 WHERE doc_id % 97 <> 0) t
          JOIN ev USING (gram)),
        clean AS (SELECT d.doc_id, d.text FROM documents d
          WHERE d.doc_id % 97 <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM tainted)),
        scored AS (SELECT doc_id, text, $langScoreSql FROM clean),
        gated AS (SELECT doc_id, text, $langPredSql AS lang_pred FROM scored
          WHERE $langPredSql <> 'unknown' AND $qualitySql >= 0.4),
        gsh AS (SELECT g.doc_id, s.s FROM gated g JOIN sh3 s USING (doc_id)),
        jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            len(list_filter(a.s, x -> list_contains(b.s, x))) AS i,
            len(a.s) AS la, len(b.s) AS lb
          FROM gsh a JOIN gsh b ON a.doc_id < b.doc_id),
        pairs AS (SELECT id_a, id_b FROM jp
          WHERE round(CASE WHEN la + lb - i > 0
            THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach AS (SELECT src AS node, dst AS r FROM edges
          UNION SELECT e.src AS node, t.r FROM edges e JOIN reach t ON e.dst = t.node),
        mins AS (SELECT node, MIN(r) AS mn FROM reach GROUP BY node),
        surv AS (SELECT g.doc_id, g.text, g.lang_pred
          FROM gated g LEFT JOIN mins m ON g.doc_id = m.node
          WHERE COALESCE(LEAST(g.doc_id, m.mn), g.doc_id) = g.doc_id),
        counts AS (SELECT lang_pred AS category, count(*) AS n FROM surv GROUP BY 1),
        sr AS (SELECT category, n,
          CASE category WHEN 'de' THEN CAST(0.25 AS DOUBLE)
                        WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                        WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                        WHEN 'fr' THEN CAST(0.2 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS share
          FROM counts),
        kk AS (SELECT min(CASE WHEN share > 0 THEN n / share END) AS k_total FROM sr),
        thr AS (SELECT category,
          CASE WHEN rate >= 1.0 THEN 'g'
               ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
          END AS keep_thr
          FROM (SELECT category,
            round(CASE WHEN share > 0
              THEN least(CAST(1.0 AS DOUBLE), k_total * share / n)
              ELSE 0.0 END, 6) AS rate
            FROM sr CROSS JOIN kk)),
        mixed AS (SELECT s.doc_id, s.text, s.lang_pred
          FROM surv s JOIN thr t ON s.lang_pred = t.category
          WHERE substr(md5('graft-mix' || CAST(s.doc_id AS VARCHAR)), 1, 8) < t.keep_thr),
        final AS (SELECT doc_id, text, lang_pred,
            CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split
          FROM mixed)
        SELECT split, lang_pred, count(*) AS n_docs,
          CAST(sum(len($wsSql)) AS BIGINT) AS n_tokens
        FROM final GROUP BY 1, 2 ORDER BY split, lang_pred""")),

    // ---------------------------------------------------------------- q73
    // Per-source corpus report card: the health metrics a curation run
    // ships alongside its output — doc/token volume, mean quality,
    // exact-duplicate surplus, predicted-language diversity. One shuffle
    // (groupBy source, everything partially aggregated; the two
    // count-distincts expand but stay keyed by source). mean_quality sums
    // the rounded-4 scores in DECIMAL — exact and order-independent in
    // both engines — with ONE decimal→double conversion at the edge (the
    // catalog's stated float-determinism rule); a double sum would drift
    // by summation order.
    QueryDef("q73_corpus_report",
      (s, dir) => {
        import s.implicits._
        val quality = TextFunctions.qualityScore($"text")
        t(s, dir, "documents")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.tokenCount($"text")).as("n_tokens"),
            round(sum(quality.cast("decimal(10,4)")).cast("double") /
              count(lit(1)), 4).as("mean_quality"),
            countDistinct(TextFunctions.fingerprint($"text")).as("n_distinct_fp"),
            countDistinct(TextFunctions.langId($"text")).as("n_langs"))
          .withColumn("dup_docs", $"n_docs" - $"n_distinct_fp")
          .orderBy($"source")
      },
      Some(s"""SELECT source, count(*) AS n_docs,
          CAST(sum(len($wsSql)) AS BIGINT) AS n_tokens,
          round(CAST(sum(CAST($qualitySql AS DECIMAL(10,4))) AS DOUBLE)
            / count(*), 4) AS mean_quality,
          count(DISTINCT $fingerprintSql) AS n_distinct_fp,
          count(DISTINCT $langPredSql) AS n_langs,
          count(*) - count(DISTINCT $fingerprintSql) AS dup_docs
        FROM (SELECT source, text, $langScoreSql FROM documents)
        GROUP BY source ORDER BY source""")),

    // ---------------------------------------------------------------- q75
    // Corpus snapshot diff: the audit between successive builds — what
    // entered, what left, what was edited (by normalized content
    // fingerprint, so formatting-only edits don't count). Two simulated
    // versions are carved deterministically from the fixture (old = ids
    // not 0 mod 5; new = ids not 0 mod 7, with ids 0 mod 11 edited); the
    // diff is per-row fingerprints into ONE full-outer join on the id —
    // no shuffle carries text. Output: status counts.
    QueryDef("q75_corpus_diff",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val oldV = docs.filter($"doc_id" % 5 =!= 0).select($"doc_id", $"text")
        val newV = docs.filter($"doc_id" % 7 =!= 0).select($"doc_id",
          when($"doc_id" % 11 === 0, concat($"text", lit(" edited")))
            .otherwise($"text").as("text"))
        CorpusStats.snapshotDiff(oldV, newV)
          .groupBy($"status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"status")
      },
      Some(s"""WITH oldv AS (SELECT doc_id, $fingerprintSql AS fp_old
          FROM documents WHERE doc_id % 5 <> 0),
        newv AS (SELECT doc_id,
          md5(lower(regexp_replace(
            CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END,
            '[^a-zA-Z0-9]', '', 'g'))) AS fp_new
          FROM documents WHERE doc_id % 7 <> 0),
        d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 WHEN fp_old <> fp_new THEN 'changed'
                 ELSE 'unchanged' END AS status
          FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
        SELECT status, count(*) AS n_docs FROM d
        GROUP BY status ORDER BY status""")),

    // ---------------------------------------------------------------- q57
    // Winnowing (rolling-hash) document fingerprints. xxhash64 grams have
    // no DuckDB equivalent, so the oracle checks the winnowing invariants
    // self-verified in Spark. The fingerprint table runs CORPUS-WIDE
    // through the native SlidingMin/CharGramHashes codegen kernels; the
    // gram-containment re-derivation (a second full k-gram scan) is bounded
    // to doc_id < 500 — q37's bounded-independent-recomputation pattern —
    // and goes through the INTERPRETED HOF gram path, so the containment
    // check is also a native-vs-HOF cross-implementation check on every
    // gate run. Cheap per-doc invariants (emptiness iff no grams,
    // window-count bound) still apply corpus-wide; containment
    // (array_except against the independently re-derived gram set —
    // hash-set, not quadratic probes) applies on the subset.
    // Shared-substring guarantee and short-doc edges are pinned in
    // DedupSpec.
    QueryDef("q57_winnow_fingerprint",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val w = 8
        val fp = Dedup.winnowingFingerprintTable(docs, k = 8, w = w)
        val grams = Dedup.charGramHashesHof(docs.filter($"doc_id" < 500), k = 8)
          .withColumnRenamed("gh", "gh2")
        fp.join(grams, Seq("id"), "left")
          .agg(count(lit(1)).as("total_docs"),
            count($"gh2").as("containment_checked"),
            (count_if($"gh2".isNotNull &&
                size(array_except($"fingerprints", $"gh2")) =!= 0) +
              count_if(($"n_grams" > 0) =!= (size($"fingerprints") > 0)) +
              count_if(size($"fingerprints") >
                greatest($"n_grams" - (w - 1), lit(1)))).as("violations"))
      },
      Some("""SELECT count(*) AS total_docs,
        (SELECT count(*) FROM documents WHERE doc_id < 500) AS containment_checked,
        CAST(0 AS BIGINT) AS violations
        FROM documents""")),

    // ---------------------------------------------------------------- q51
    // Multimodal frame sampling: one row per 256-byte slice of the binary
    // content column (the per-frame explode shape of a video pipeline).
    // ASCII fixture => byte offsets == char offsets, so DuckDB replicates
    // the slicing over the text itself.
    QueryDef("q51_multimodal_frames",
      (s, dir) => {
        import s.implicits._
        Multimodal.sampleFrames(Multimodal.assetize(t(s, dir, "documents")))
          .orderBy($"asset_id", $"frame_no")
      },
      Some("""WITH f AS (
          SELECT doc_id AS asset_id, text,
            unnest(range(CAST(ceil(length(text) / 256.0) AS BIGINT))) AS frame_no
          FROM documents)
        SELECT asset_id, frame_no,
          md5(substring(text, CAST(frame_no * 256 + 1 AS INT), 256)) AS frame_md5
        FROM f ORDER BY asset_id, frame_no""")),

    // ---------------------------------------------------------------- q52
    // REAL image decode (javax.imageio in mapPartitions): image-typed assets
    // carry actual PNG bytes (encoded distributed, dims + solid fill colour
    // integer functions of the id), and the decoder must read the true
    // width/height/channels/codec/colour back out of the pixels — the oracle
    // predicts them from doc_id arithmetic, so a broken codec cannot pass.
    // Audio/video rows keep opaque blobs the JDK can't parse and exercise
    // the flagged hash-metadata fallback (decoded=false, dims from md5).
    QueryDef("q52_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        Multimodal.decode(
            Multimodal.withSyntheticImages(Multimodal.assetize(t(s, dir, "documents"))))
          .toDF()
          // PNG byte-lengths/digests are encoder details, not contract:
          // project the decode contract columns only
          .select($"asset_id", $"media_type", $"width", $"height",
            $"channels", $"codec", $"decoded", $"solid_rgb")
          .orderBy($"asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        CASE WHEN doc_id % 3 = 0 THEN CAST(8 + doc_id % 56 AS INTEGER)
             ELSE CAST(64 + CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 448 AS INTEGER)
        END AS width,
        CASE WHEN doc_id % 3 = 0 THEN CAST(8 + (doc_id // 56) % 56 AS INTEGER)
             ELSE CAST(64 + (CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) // 448) % 448 AS INTEGER)
        END AS height,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 0 END AS INTEGER) AS channels,
        CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'none' END AS codec,
        (doc_id % 3 = 0) AS decoded,
        CASE WHEN doc_id % 3 = 0
             THEN ((doc_id * 7 + 1) % 256) * 65536 + ((doc_id * 13 + 3) % 256) * 256 + (doc_id * 29 + 5) % 256
             ELSE CAST(-1 AS BIGINT) END AS solid_rgb
        FROM documents ORDER BY asset_id""")),

    // --------------------------------------------------------------- q153
    // Pixel-level feature extraction over REALLY decoded rasters: per-
    // channel means from the full pixel pass. The synthetic fixtures are
    // solid PNG fills, so each mean equals the id-derived channel value
    // EXACTLY (integer-valued doubles; PNG is lossless) — the oracle
    // predicts every number from arithmetic, so a codec or channel-order
    // bug cannot pass. Undecodable assets emit -1 sentinels.
    QueryDef("q153_multimodal_pixel_stats",
      (s, dir) => {
        import s.implicits._
        Multimodal.pixelFeatures(
            Multimodal.withSyntheticImages(Multimodal.assetize(t(s, dir, "documents"))))
          .toDF()
          .orderBy($"asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        (doc_id % 3 = 0) AS decoded,
        CASE WHEN doc_id % 3 = 0 THEN CAST(8 + doc_id % 56 AS INTEGER) ELSE -1 END AS width,
        CASE WHEN doc_id % 3 = 0 THEN CAST(8 + (doc_id // 56) % 56 AS INTEGER) ELSE -1 END AS height,
        CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 7 + 1) % 256 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS mean_r,
        CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 13 + 3) % 256 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS mean_g,
        CASE WHEN doc_id % 3 = 0 THEN CAST((doc_id * 29 + 5) % 256 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS mean_b
        FROM documents ORDER BY asset_id""")),

    // --------------------------------------------------------------- q154
    // REAL pixel resize round-trip: synthesize PNGs -> Graphics2D bilinear
    // resample capped at 16 px -> re-encode -> DECODE THE OUTPUT. The
    // decoded dims must match the floor(w*scale) geometry the oracle
    // computes (identical IEEE arithmetic both engines), and the solid
    // fill must survive resampling (bilinear over equal pixels), so the
    // resample provably ran on real pixels.
    QueryDef("q154_multimodal_resize",
      (s, dir) => {
        import s.implicits._
        val images = Multimodal.withSyntheticImages(
          Multimodal.assetize(t(s, dir, "documents"))).filter($"media_type" === "image")
        Multimodal.decode(Multimodal.resizePixels(images, maxDim = 16).toDF())
          .toDF()
          .select($"asset_id", $"width", $"height", $"channels",
            $"codec", $"decoded", $"solid_rgb")
          .orderBy($"asset_id")
      },
      Some("""WITH g AS (SELECT doc_id,
            CAST(8 + doc_id % 56 AS INTEGER) AS w0,
            CAST(8 + (doc_id // 56) % 56 AS INTEGER) AS h0
          FROM documents WHERE doc_id % 3 = 0)
        SELECT doc_id AS asset_id,
          CASE WHEN greatest(w0, h0) > 16
            THEN greatest(1, CAST(floor(w0 * (16.0 / greatest(w0, h0))) AS INTEGER))
            ELSE w0 END AS width,
          CASE WHEN greatest(w0, h0) > 16
            THEN greatest(1, CAST(floor(h0 * (16.0 / greatest(w0, h0))) AS INTEGER))
            ELSE h0 END AS height,
          CAST(3 AS INTEGER) AS channels,
          'png' AS codec,
          true AS decoded,
          ((doc_id * 7 + 1) % 256) * 65536 + ((doc_id * 13 + 3) % 256) * 256
            + (doc_id * 29 + 5) % 256 AS solid_rgb
        FROM g ORDER BY asset_id""")),

    // --------------------------------------------------------------- q155
    // REAL video frame extraction: video-typed assets carry genuine
    // multi-frame animated GIFs (2-5 solid frames, dims and per-frame fill
    // colours integer functions of the id); decodeFrames must read every
    // frame back out — count, dims, codec, and each frame's colour are all
    // oracle-predicted from doc_id arithmetic, so a broken container
    // parser or frame indexer cannot pass.
    QueryDef("q155_multimodal_video_frames",
      (s, dir) => {
        import s.implicits._
        val videos = Multimodal.withSyntheticVideos(
          Multimodal.assetize(t(s, dir, "documents"))).filter($"media_type" === "video")
        Multimodal.decodeFrames(videos)
          .toDF()
          .select($"asset_id", $"frame_no", $"n_frames", $"width", $"height",
            $"codec", $"solid_rgb")
          .orderBy($"asset_id", $"frame_no")
      },
      Some("""WITH v AS (SELECT doc_id, CAST(2 + doc_id % 4 AS INTEGER) AS nf
            FROM documents WHERE doc_id % 3 = 2),
          u AS (SELECT doc_id, nf, unnest(range(0, nf)) AS f FROM v)
        SELECT doc_id AS asset_id, CAST(f AS BIGINT) AS frame_no, nf AS n_frames,
          CAST(8 + doc_id % 56 AS INTEGER) AS width,
          CAST(8 + (doc_id // 56) % 56 AS INTEGER) AS height,
          'gif' AS codec,
          ((doc_id * 7 + f * 11 + 1) % 256) * 65536
            + ((doc_id * 13 + f * 17 + 3) % 256) * 256
            + (doc_id * 29 + f * 23 + 5) % 256 AS solid_rgb
        FROM u ORDER BY asset_id, frame_no""")),

    // --------------------------------------------------------------- q156
    // REAL audio decode: audio-typed assets carry genuine 16-bit mono PCM
    // WAVs (javax.sound.sampled encoder) whose every sample is an integer
    // function of (id, k); decodeAudio parses the container format and
    // reads the PCM back sample-by-sample into exact integer statistics —
    // peak |s| and sum |s| — that the oracle recomputes from the same
    // arithmetic. A decoder that mis-parses the header, byte order, or a
    // single sample cannot match.
    QueryDef("q156_multimodal_audio",
      (s, dir) => {
        import s.implicits._
        val audio = Multimodal.withSyntheticAudio(
          Multimodal.assetize(t(s, dir, "documents"))).filter($"media_type" === "audio")
        Multimodal.decodeAudio(audio)
          .toDF()
          .orderBy($"asset_id")
      },
      Some("""WITH a AS (SELECT doc_id, CAST(400 + (doc_id % 5) * 100 AS BIGINT) AS n
            FROM documents WHERE doc_id % 3 = 1),
          s AS (SELECT doc_id, n,
            list_transform(range(0, n),
              k -> abs((doc_id * 31 + k * 7) % 2048 - 1024)) AS sa
          FROM a)
        SELECT doc_id AS asset_id, 'audio' AS media_type, true AS decoded,
          CAST(8000 AS INTEGER) AS sample_rate,
          CAST(1 AS INTEGER) AS channels,
          CAST(16 AS INTEGER) AS bits,
          n AS n_samples,
          CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
          CAST(list_aggregate(sa, 'max') AS BIGINT) AS peak_abs,
          CAST(list_aggregate(sa, 'sum') AS BIGINT) AS sum_abs
        FROM s ORDER BY asset_id""")),

    // --------------------------------------------------------------- q159
    // Image near-dup detection via perceptual hash over REALLY decoded
    // pixels — the LAION-style image-dedup step. Image assets carry pattern
    // PNGs (white band + one inverted accent cell, cell-aligned dims) whose
    // 8x8 block-mean aHash is an exact integer function of the id:
    // ahash = bandPattern(bg) XOR (1 << accentPos), where bg = 1 + id % 7
    // and accentPos = (id*11 + 2) % 63 (derivation in
    // Multimodal.syntheticPatternPng's scaladoc). Same-band images differ
    // only in accent position (hamming <= 2); adjacent bands sit at
    // hamming >= 6 — so a hamming <= 2 cut recovers exactly the same-band
    // groups, and the oracle predicts every pair from doc_id arithmetic.
    // Candidates come from Dedup.signatureHammingPairs (4-block banded
    // self-join, pigeonhole-complete to hamming 3 > 2), so no all-pairs
    // stage exists on the Spark side; the oracle IS the exhaustive O(n^2)
    // scan — a decoder, hash, or banding bug cannot match it.
    QueryDef("q159_image_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val imgs = Multimodal.withSyntheticPatternImages(
            Multimodal.assetize(t(s, dir, "documents")))
          .filter($"media_type" === "image")
        val hashes = Multimodal.imageAHash(imgs).toDF().filter($"decoded")
        Dedup.signatureHammingPairs(hashes, "asset_id", "ahash",
            blocks = 4, maxHamming = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH i AS (SELECT doc_id,
            CAST(1 + doc_id % 7 AS BIGINT) AS bg,
            CAST((doc_id * 11 + 2) % 63 AS BIGINT) AS p
          FROM documents WHERE doc_id % 3 = 0),
        h AS (SELECT doc_id,
            xor(((CAST(1 AS BIGINT) << bg) - 1) * 72340172838076673,
                CAST(1 AS BIGINT) << p) AS ahash
          FROM i)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
        ORDER BY id_a, id_b""")),

    // --------------------------------------------------------------- q160
    // Audio fingerprint near-dup detection over REALLY decoded PCM — the
    // third modality of the dedup ladder, through the SAME banding kernel
    // as text SimHash and image aHash. Audio assets carry variant-track
    // WAVs: every 12-id block's 4 audio ids share one base triangle-wave
    // track plus a per-variant +40 bump on the ~n/89 samples where
    // k % 89 == variant*17 (a "slightly re-encoded copy"). The fingerprint
    // is the 63-bit energy-delta-sign signature (64 equal spans, exact
    // integer floor boundaries, bit w = E[w+1] > E[w]) — all-integer, so
    // the oracle recomputes every track's fingerprint from (base, variant,
    // k) arithmetic and runs the exhaustive O(n^2) hamming <= 3 scan the
    // banded Spark side must reproduce exactly. A decoder that mis-parses
    // the WAV header, byte order, or any sample lands in different spans
    // and cannot match.
    QueryDef("q160_audio_fingerprint_dedup",
      (s, dir) => {
        import s.implicits._
        val auds = Multimodal.withSyntheticAudioVariants(
            Multimodal.assetize(t(s, dir, "documents")))
          .filter($"media_type" === "audio")
        val fps = Multimodal.audioFingerprint(auds).toDF().filter($"decoded")
        Dedup.signatureHammingPairs(fps, "asset_id", "fingerprint",
            blocks = 4, maxHamming = 3)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH a AS (SELECT doc_id, doc_id // 12 AS b, (doc_id // 3) % 4 AS v
          FROM documents WHERE doc_id % 3 = 1),
        p AS (SELECT doc_id, b, v,
            CAST(400 + (b % 5) * 100 AS BIGINT) AS n FROM a),
        e AS (SELECT doc_id, list_transform(range(0, 64), w ->
            CAST(list_aggregate(list_transform(range(n * w // 64, n * (w + 1) // 64),
              k -> abs((b * 31 + k * 7) % 2048 - 1024
                + CASE WHEN k % 89 = v * 17 THEN 40 ELSE 0 END)),
            'sum') AS BIGINT)) AS es
          FROM p),
        f AS (SELECT doc_id, CAST(list_aggregate(list_transform(range(0, 63),
            w -> CASE WHEN es[w + 2] > es[w + 1]
              THEN CAST(1 AS BIGINT) << w ELSE CAST(0 AS BIGINT) END),
          'sum') AS BIGINT) AS fp
          FROM e)
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
          CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        FROM f x JOIN f y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.fp, y.fp)) <= 3
        ORDER BY id_a, id_b""")),

    // --------------------------------------------------------------- q161
    // Incremental image-ingest dedup with a PERSISTED hash index — the
    // O(batch) production shape for media: day-1 images decode and hash
    // ONCE and the (id, ahash) frame is written to parquet; the day-2
    // batch decodes only ITS OWN rasters and hamming-joins against the
    // LOADED index through Dedup.signatureHammingJoin (banding is a cheap
    // bit projection on both sides; day-1 pixels are never touched again).
    // Work is O(batch x bucket occupancy) — at 100 TB the historical
    // corpus contributes a parquet scan of 8-byte hashes, not a decode.
    // The oracle recomputes both days' hashes from id arithmetic and runs
    // the exhaustive batch x corpus scan; pairs must agree exactly.
    QueryDef("q161_image_ingest_dedup",
      (s, dir) => {
        import s.implicits._
        val imgs = Multimodal.withSyntheticPatternImages(
            Multimodal.assetize(t(s, dir, "documents")))
          .filter($"media_type" === "image")
        // app-id-suffixed scratch dir (no cross-process race; deleted at
        // JVM exit so runs don't leak parquet into tmpdir — see TempStores)
        val store = graft.sources.TempStores.scratch(s, "graft_q161_ahash_index")
        Multimodal.imageAHash(imgs.filter($"asset_id" % 2 === 0)).toDF()
          .filter($"decoded").select($"asset_id", $"ahash")
          .write.mode("overwrite").parquet(store)
        val batch = Multimodal.imageAHash(imgs.filter($"asset_id" % 2 === 1))
          .toDF().filter($"decoded").select($"asset_id", $"ahash")
        Dedup.signatureHammingJoin(batch, s.read.parquet(store),
            "asset_id", "ahash", blocks = 4, maxHamming = 2)
          .orderBy($"probe_id", $"index_id")
      },
      Some("""WITH i AS (SELECT doc_id,
            CAST(1 + doc_id % 7 AS BIGINT) AS bg,
            CAST((doc_id * 11 + 2) % 63 AS BIGINT) AS p
          FROM documents WHERE doc_id % 3 = 0),
        h AS (SELECT doc_id,
            xor(((CAST(1 AS BIGINT) << bg) - 1) * 72340172838076673,
                CAST(1 AS BIGINT) << p) AS ahash
          FROM i)
        SELECT b.doc_id AS probe_id, x.doc_id AS index_id,
          CAST(bit_count(xor(b.ahash, x.ahash)) AS INTEGER) AS hamming
        FROM h b JOIN h x ON b.doc_id % 2 = 1 AND x.doc_id % 2 = 0
        WHERE bit_count(xor(b.ahash, x.ahash)) <= 2
        ORDER BY probe_id, index_id""")),

    // --------------------------------------------------------------- q162
    // Video sequence dedup over REALLY decoded frames — the fourth and
    // last modality of the dedup ladder. Video assets carry pattern-frame
    // animated GIFs (4 variants per base sequence: same frame count and
    // band structure, accent cells elsewhere — frame f of base b has bands
    // 1 + (b*5+f) % 7 and accent (b*7 + f*11 + v*13) % 63, all lossless
    // two-colour palette frames). videoFingerprint aHashes every decoded
    // frame; frameSequencePairs takes banded frame-0 candidates (complete:
    // a qualifying pair's frame 0 is within the bound by definition) and
    // refines with the aligned per-frame max — two sequences match iff
    // lengths agree and EVERY frame pair sits within hamming 2. The oracle
    // recomputes each frame's hash from id arithmetic and runs the
    // exhaustive pair scan with a per-frame list max.
    QueryDef("q162_video_sequence_dedup",
      (s, dir) => {
        import s.implicits._
        val vids = Multimodal.withSyntheticPatternVideos(
            Multimodal.assetize(t(s, dir, "documents")))
          .filter($"media_type" === "video")
        val fh = Multimodal.videoFingerprint(vids).toDF().filter($"decoded")
        Dedup.frameSequencePairs(fh, blocks = 4, maxHamming = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH vd AS (SELECT doc_id, doc_id // 12 AS b, (doc_id // 3) % 4 AS v
          FROM documents WHERE doc_id % 3 = 2),
        p AS (SELECT doc_id, b, v, CAST(2 + b % 4 AS INTEGER) AS nf FROM vd),
        fh AS (SELECT doc_id, nf, list_transform(range(0, nf), f ->
            xor(((CAST(1 AS BIGINT) << (1 + (b * 5 + f) % 7)) - 1)
                  * 72340172838076673,
                CAST(1 AS BIGINT) << ((b * 7 + f * 11 + v * 13) % 63))) AS hs
          FROM p),
        pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
            x.nf AS n_frames,
            CAST(list_aggregate(list_transform(range(0, x.nf), f ->
              bit_count(xor(x.hs[f + 1], y.hs[f + 1]))), 'max') AS INTEGER)
              AS max_hamming
          FROM fh x JOIN fh y ON x.doc_id < y.doc_id AND x.nf = y.nf)
        SELECT id_a, id_b, n_frames, max_hamming FROM pairs
        WHERE max_hamming <= 2 ORDER BY id_a, id_b""")),

    // --------------------------------------------------------------- q172
    // The cross-modality dedup REPORT — one query, four modalities: text
    // by exact fingerprint groups, images by aHash hamming <= 2, audio by
    // energy-fingerprint hamming <= 3, video by aligned frame-sequence
    // match, each through the operators pinned individually by
    // q34/q159/q160/q162, summarized as (modality, n_assets, dup_pairs,
    // assets_in_dups). This is the corpus-curation dashboard row a
    // multimodal training pipeline publishes per snapshot; the oracle
    // reassembles every modality's exhaustive pair set and must land on
    // identical counts.
    QueryDef("q172_multimodal_dedup_report",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val assets = Multimodal.assetize(docs)
        // ONE pass over each modality's pair frame: the r14 form consumed
        // `pairs` three times (count + both sides of a union-distinct), so
        // the decode + fingerprint + banded-join subtree behind it
        // EXECUTED three times per modality — the q189 multiple-consumer
        // lesson, here solved by folding all three figures into a single
        // aggregate over the endpoint explode (2 rows per pair: count/2 =
        // pairs, distinct endpoints = assets_in_dups).
        // count_distinct ignores NULLs where the r14 union().distinct()
        // counted a null endpoint as a row — equivalent here because pair
        // endpoints are non-null BY CONSTRUCTION: both ids descend from
        // documents.doc_id (the generator's non-null key) and every pair
        // generator (signatureHammingPairs' band equi-join, the video
        // frame-alignment join) emits its id columns from rows that
        // survived an equi-join on id-derived keys.
        def stats(modality: String, n: org.apache.spark.sql.DataFrame,
            pairs: org.apache.spark.sql.DataFrame, a: String, b: String) =
          n.agg(count(lit(1)).as("n_assets"))
            .crossJoin(pairs
              .select(explode(array(col(a), col(b))).as("x"))
              .agg((count(lit(1)) / 2).cast("long").as("dup_pairs"),
                count_distinct($"x").as("assets_in_dups")))
            .select(lit(modality).as("modality"), $"n_assets",
              $"dup_pairs", $"assets_in_dups")
        val text = Dedup.exact(docs).agg(
            sum($"dup_count").as("n_assets"),
            expr("sum(dup_count * (dup_count - 1) DIV 2)").as("dup_pairs"),
            sum(when($"dup_count" >= 2, $"dup_count").otherwise(0L))
              .as("assets_in_dups"))
          .select(lit("text").as("modality"), $"n_assets", $"dup_pairs",
            $"assets_in_dups")
        // n_assets counts the PRE-synthesis asset rows (r18, guide §2.3
        // "project before the opaque operation"): the generators are 1:1
        // row-preserving maps that keep media_type, but counting their
        // OUTPUT forces the opaque mapPartitions byte synthesis just to
        // count rows — measured 1.6 s of single-purpose audio synthesis in
        // the profile. Counting assetize's codegen projection is the same
        // number off a bare column scan.
        val imgs = Multimodal.withSyntheticPatternImages(assets)
          .filter($"media_type" === "image")
        val image = stats("image", assets.filter($"media_type" === "image"),
          Dedup.signatureHammingPairs(
            Multimodal.imageAHash(imgs).toDF().filter($"decoded"),
            "asset_id", "ahash", blocks = 4, maxHamming = 2),
          "id_a", "id_b")
        val auds = Multimodal.withSyntheticAudioVariants(assets)
          .filter($"media_type" === "audio")
        val audio = stats("audio", assets.filter($"media_type" === "audio"),
          Dedup.signatureHammingPairs(
            Multimodal.audioFingerprint(auds).toDF().filter($"decoded"),
            "asset_id", "fingerprint", blocks = 4, maxHamming = 3),
          "id_a", "id_b")
        val vids = Multimodal.withSyntheticPatternVideos(assets)
          .filter($"media_type" === "video")
        val video = stats("video", assets.filter($"media_type" === "video"),
          Dedup.frameSequencePairs(
            Multimodal.videoFingerprint(vids).toDF().filter($"decoded"),
            maxHamming = 2),
          "id_a", "id_b")
        text.union(image).union(audio).union(video).orderBy($"modality")
      },
      Some("""WITH tg AS (SELECT count(*) AS dup_count FROM documents
            GROUP BY md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))),
        ih AS (SELECT doc_id,
            xor(((CAST(1 AS BIGINT) << (1 + doc_id % 7)) - 1) * 72340172838076673,
                CAST(1 AS BIGINT) << ((doc_id * 11 + 2) % 63)) AS ahash
          FROM documents WHERE doc_id % 3 = 0),
        ip AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM ih a
          JOIN ih b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.ahash, b.ahash)) <= 2),
        aa AS (SELECT doc_id, doc_id // 12 AS b, (doc_id // 3) % 4 AS v,
            CAST(400 + ((doc_id // 12) % 5) * 100 AS BIGINT) AS n
          FROM documents WHERE doc_id % 3 = 1),
        ae AS (SELECT doc_id, list_transform(range(0, 64), w ->
            CAST(list_aggregate(list_transform(range(n * w // 64, n * (w + 1) // 64),
              k -> abs((b * 31 + k * 7) % 2048 - 1024
                + CASE WHEN k % 89 = v * 17 THEN 40 ELSE 0 END)),
            'sum') AS BIGINT)) AS es FROM aa),
        af AS (SELECT doc_id, CAST(list_aggregate(list_transform(range(0, 63),
            w -> CASE WHEN es[w + 2] > es[w + 1]
              THEN CAST(1 AS BIGINT) << w ELSE CAST(0 AS BIGINT) END),
          'sum') AS BIGINT) AS fp FROM ae),
        ap AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM af x
          JOIN af y ON x.doc_id < y.doc_id
          WHERE bit_count(xor(x.fp, y.fp)) <= 3),
        vv AS (SELECT doc_id, doc_id // 12 AS b, (doc_id // 3) % 4 AS v,
            CAST(2 + (doc_id // 12) % 4 AS INTEGER) AS nf
          FROM documents WHERE doc_id % 3 = 2),
        vh AS (SELECT doc_id, nf, list_transform(range(0, nf), f ->
            xor(((CAST(1 AS BIGINT) << (1 + (b * 5 + f) % 7)) - 1)
                  * 72340172838076673,
                CAST(1 AS BIGINT) << ((b * 7 + f * 11 + v * 13) % 63))) AS hs
          FROM vv),
        vp AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
          FROM vh x JOIN vh y ON x.doc_id < y.doc_id AND x.nf = y.nf
          WHERE CAST(list_aggregate(list_transform(range(0, x.nf), f ->
            bit_count(xor(x.hs[f + 1], y.hs[f + 1]))), 'max') AS INTEGER) <= 2)
        SELECT 'text' AS modality,
          CAST(sum(dup_count) AS BIGINT) AS n_assets,
          CAST(sum(dup_count * (dup_count - 1) // 2) AS BIGINT) AS dup_pairs,
          CAST(sum(CASE WHEN dup_count >= 2 THEN dup_count ELSE 0 END)
            AS BIGINT) AS assets_in_dups
        FROM tg
        UNION ALL SELECT 'image',
          (SELECT count(*) FROM documents WHERE doc_id % 3 = 0),
          (SELECT count(*) FROM ip),
          (SELECT count(DISTINCT x) FROM
            (SELECT id_a AS x FROM ip UNION ALL SELECT id_b FROM ip))
        UNION ALL SELECT 'audio',
          (SELECT count(*) FROM documents WHERE doc_id % 3 = 1),
          (SELECT count(*) FROM ap),
          (SELECT count(DISTINCT x) FROM
            (SELECT id_a AS x FROM ap UNION ALL SELECT id_b FROM ap))
        UNION ALL SELECT 'video',
          (SELECT count(*) FROM documents WHERE doc_id % 3 = 2),
          (SELECT count(*) FROM vp),
          (SELECT count(DISTINCT x) FROM
            (SELECT id_a AS x FROM vp UNION ALL SELECT id_b FROM vp))
        ORDER BY modality""")),

    // ---------------------------------------------------------------- q39
    // Multimodal plumbing: opaque binary content column + typed metadata,
    // byte-level feature extraction (magic bytes, content hash, sampled
    // "frame" digest). Documents' text doubles as the blob (ASCII fixture,
    // so byte offsets == char offsets and the oracle can mirror it).
    QueryDef("q39_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val bin = $"text".cast("binary")
        t(s, dir, "documents")
          .select($"doc_id",
            length(bin).as("n_bytes"),
            md5(bin).as("content_md5"),
            lower(hex(substring(bin, 1, 8))).as("magic_hex"),
            md5(substring(bin, 1, 256)).as("frame0_md5"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        md5(text) AS content_md5,
        lower(hex(encode(substring(text, 1, 8)))) AS magic_hex,
        md5(substring(text, 1, 256)) AS frame0_md5
        FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q77
    // C4/Gopher heuristic quality gates (HeuristicFilters.qualityProfile):
    // per-doc token stats + every gate as its own boolean + the composite
    // keep. All keep/drop decisions are INTEGER arithmetic (10·n_sym <=
    // n_words, not a float ratio compare), so the cross-engine compare has
    // no boundary risk; the one float column (mean_word_len) is display-only
    // and rounded. Pure per-row map — zero shuffles before the final sort.
    QueryDef("q77_heuristic_gates",
      (s, dir) => {
        import s.implicits._
        HeuristicFilters.qualityProfile(t(s, dir, "documents"))
          .select($"doc_id", $"n_words", $"mean_word_len", $"stop_hits",
            $"g_word_count", $"g_word_len", $"g_symbol", $"g_alpha",
            $"g_stop", $"g_c4", $"keep")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $heurStatsSql
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          round(CASE WHEN n_words > 0
            THEN CAST(sum_len AS DOUBLE) / n_words END, 6) AS mean_word_len,
          CAST(stop_hits AS BIGINT) AS stop_hits,
          $heurGateWcSql AS g_word_count,
          $heurGateWlSql AS g_word_len,
          $heurGateSymSql AS g_symbol,
          $heurGateAlphaSql AS g_alpha,
          $heurGateStopSql AS g_stop,
          g_c4,
          $heurKeepSql AS keep
        FROM st ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q78
    // The curation funnel with the heuristic filter pack wired in as the
    // first gate (the standard pre-dedup stage q68 approximated with
    // quality+repetition scores): heuristic gates -> exact-dup survivors ->
    // deterministic split -> per-(split, source) accounting. Plan shape:
    // one per-row scoring projection, one fp-window, one final partial-agg
    // shuffle.
    QueryDef("q78_funnel_heuristic",
      (s, dir) => {
        import s.implicits._
        val kept = HeuristicFilters.qualityFilter(t(s, dir, "documents"))
        val surv = kept
          .withColumn("fp", TextFunctions.fingerprint($"text"))
          .withColumn("rn",
            row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
          .filter($"rn" === 1)
        Sampling.deterministicSplit(surv, valFraction = 0.1)
          .groupBy($"split", $"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.tokenCount($"text")).as("n_tokens"))
          .orderBy($"split", $"source")
      },
      Some(s"""WITH $heurStatsSql,
        surv AS (SELECT d.doc_id, d.text, d.source,
            row_number() OVER (PARTITION BY $fingerprintSql
              ORDER BY d.doc_id) AS rn
          FROM documents d JOIN st USING (doc_id)
          WHERE $heurKeepSql),
        final AS (SELECT doc_id, text, source,
            CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < '${Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split
          FROM surv WHERE rn = 1)
        SELECT split, source, count(*) AS n_docs,
          CAST(sum(len($wsSql)) AS BIGINT) AS n_tokens
        FROM final GROUP BY 1, 2 ORDER BY split, source""")),

    // ---------------------------------------------------------------- q79
    // Per-eval-document contamination report (the q62 eval split convention:
    // eval = doc_id % 97 == 0): for each eval doc, its distinct-gram count,
    // how many of those grams leak into the corpus, how many corpus docs
    // carry them, and the leaked fraction — the benchmark owner's view of
    // the same overlap q62 reports corpus-side. The count-distinct expand
    // touches only MATCHED (gram, corpus_id) pairs, keyed by the tiny
    // eval-id set.
    QueryDef("q79_contamination_report",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Decontamination.report(
            docs.filter($"doc_id" % 97 =!= 0),
            docs.filter($"doc_id" % 97 === 0))
          .orderBy($"eval_id")
      },
      Some(s"""WITH ev AS (SELECT doc_id AS eval_id, unnest($shinglesSql) AS gram
          FROM documents WHERE doc_id % 97 = 0),
        cg AS (SELECT doc_id AS corpus_id, unnest($shinglesSql) AS gram
          FROM documents WHERE doc_id % 97 <> 0),
        j AS (SELECT eval_id, cg.gram AS gram, corpus_id FROM cg JOIN ev USING (gram)),
        a AS (SELECT eval_id, count(DISTINCT gram) AS n_leaked_grams,
            count(DISTINCT corpus_id) AS n_tainted_docs
          FROM j GROUP BY 1),
        tot AS (SELECT doc_id AS eval_id, len($shinglesSql) AS n_grams
          FROM documents WHERE doc_id % 97 = 0)
        SELECT eval_id, CAST(n_grams AS BIGINT) AS n_grams,
          CAST(COALESCE(n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams,
          CAST(COALESCE(n_tainted_docs, 0) AS BIGINT) AS n_tainted_docs,
          round(CASE WHEN n_grams > 0
            THEN CAST(COALESCE(n_leaked_grams, 0) AS DOUBLE) / n_grams
            ELSE CAST(0.0 AS DOUBLE) END, 6) AS leak_frac
        FROM tot LEFT JOIN a USING (eval_id) ORDER BY eval_id""")),

    // ---------------------------------------------------------------- q80
    // Per-document mean negative log-likelihood under the corpus's own
    // unigram LM — the CCNet-style statistical quality score. Sums of
    // doubles are order-dependent across engines, so each token's ln(p)
    // contribution is rounded to 6 dp and accumulated as DECIMAL (exact);
    // only the final per-doc mean returns to double (IEEE division —
    // engine-identical).
    QueryDef("q80_unigram_nll",
      (s, dir) => {
        import s.implicits._
        CorpusStats.unigramNll(t(s, dir, "documents")).orderBy($"doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($wsSql) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS m FROM tok
          WHERE len(term) > 0 GROUP BY 1, 2),
        ct AS (SELECT term, sum(m) AS c FROM tf GROUP BY 1),
        tot AS (SELECT sum(c) AS t FROM ct),
        perdoc AS (SELECT doc_id, sum(m) AS n_tokens,
            sum(CAST(round(ln(CAST(c AS DOUBLE) / t), 6) AS DECIMAL(28,6)) * m)
              AS sum_lp
          FROM tf JOIN ct USING (term) CROSS JOIN tot GROUP BY 1)
        SELECT d.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
          COALESCE(round(-CAST(sum_lp AS DOUBLE) / n_tokens, 6),
            CAST(0.0 AS DOUBLE)) AS nll
        FROM documents d LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q81
    // Per-source drift between two corpus snapshots (the q75 carve: old =
    // ids not 0 mod 5, new = ids not 0 mod 7): counts, shares, and the
    // add-one-smoothed log-odds ratio — the monitor a corpus owner reads
    // when a source's crawl share moves between builds. Integer counts and
    // single-rounded-expression floats only; no float sums.
    QueryDef("q81_source_drift",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        CorpusStats.categoryDrift(
            docs.filter($"doc_id" % 5 =!= 0),
            docs.filter($"doc_id" % 7 =!= 0))
          .orderBy($"category")
      },
      Some("""WITH o AS (SELECT source AS category, count(*) AS n_old
          FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
        nn AS (SELECT source AS category, count(*) AS n_new
          FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1),
        j AS (SELECT COALESCE(o.category, nn.category) AS category,
            COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
          FROM o FULL OUTER JOIN nn ON o.category = nn.category),
        t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new,
            count(*) AS k FROM j)
        SELECT category, CAST(n_old AS BIGINT) AS n_old,
          CAST(n_new AS BIGINT) AS n_new,
          round(CASE WHEN t_old > 0 THEN CAST(n_old AS DOUBLE) / t_old
            ELSE CAST(0.0 AS DOUBLE) END, 6) AS share_old,
          round(CASE WHEN t_new > 0 THEN CAST(n_new AS DOUBLE) / t_new
            ELSE CAST(0.0 AS DOUBLE) END, 6) AS share_new,
          round(ln((CAST(n_new + 1 AS DOUBLE) / (t_new + k)) /
            (CAST(n_old + 1 AS DOUBLE) / (t_old + k))), 6) AS log_odds_drift
        FROM j CROSS JOIN t ORDER BY category""")),

    // ---------------------------------------------------------------- q82
    // Per-source quality scoreboard: the heuristic gate pack (q77) and the
    // unigram-LM score (q80) rolled up by source — which sources would the
    // filter pack drop, and is a source's text statistically typical or
    // outlier-heavy. Gate decisions are integer-exact; mean_nll sums the
    // per-doc rounded-6 scores in DECIMAL (exact, order-independent) with
    // one decimal->double conversion at the edge (the q73 rule). Plan: two
    // doc-keyed joins (AQE broadcasts the tiny per-doc frames' aggregates
    // fine at fixture scale; at corpus scale all three sides co-key on
    // doc_id) into ONE source-keyed shuffle.
    QueryDef("q82_quality_scoreboard",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val keepFlags = graft.operators.HeuristicFilters.qualityProfile(docs)
          .select($"doc_id", $"keep")
        val nll = CorpusStats.unigramNll(docs).select($"doc_id", $"nll")
        docs.select($"doc_id", $"source")
          .join(keepFlags, "doc_id")
          .join(nll, "doc_id")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"keep", 1L).otherwise(0L)).as("n_keep"),
            round(sum(when($"keep", 1L).otherwise(0L)).cast("double") /
              count(lit(1)), 6).as("keep_rate"),
            round(sum($"nll".cast("decimal(18,6)")).cast("double") /
              count(lit(1)), 6).as("mean_nll"))
          .orderBy($"source")
      },
      Some(s"""WITH $heurStatsSql,
        keepf AS (SELECT doc_id, $heurKeepSql AS keep FROM st),
        tok AS (SELECT doc_id, unnest($wsSql) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS m FROM tok
          WHERE len(term) > 0 GROUP BY 1, 2),
        ct AS (SELECT term, sum(m) AS c FROM tf GROUP BY 1),
        tot AS (SELECT sum(c) AS t FROM ct),
        perdoc AS (SELECT doc_id, sum(m) AS n_tokens,
            sum(CAST(round(ln(CAST(c AS DOUBLE) / t), 6) AS DECIMAL(28,6)) * m)
              AS sum_lp
          FROM tf JOIN ct USING (term) CROSS JOIN tot GROUP BY 1),
        nlls AS (SELECT d.doc_id,
            COALESCE(round(-CAST(sum_lp AS DOUBLE) / n_tokens, 6),
              CAST(0.0 AS DOUBLE)) AS nll
          FROM documents d LEFT JOIN perdoc USING (doc_id))
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS keep_rate,
          round(CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
            / count(*), 6) AS mean_nll
        FROM documents JOIN keepf USING (doc_id) JOIN nlls USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // ---------------------------------------------------------------- q89
    // PII redaction audit. The fixture corpus carries no PII, so the query
    // first synthesizes a deterministic contact line per document (email,
    // dotted-quad, account number — all derived from doc_id, identically on
    // both engines), then runs the Redaction rule pack and reports the
    // per-source tally plus the invariant that matters: zero residual
    // matches in the redacted text. The operator itself is a map-only
    // codegen'd projection — at 100 TB it scales linearly, no shuffle
    // beyond the final per-source rollup.
    QueryDef("q89_pii_redaction",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Redaction
        val dirty = t(s, dir, "documents")
          .withColumn("text", concat($"text",
            lit(" contact u"), $"doc_id".cast("string"),
            lit("@mail.example.com from 10."), ($"doc_id" % 200).cast("string"),
            lit("."), (($"doc_id" * 7) % 250).cast("string"),
            lit("."), ($"doc_id" % 97).cast("string"),
            lit(" ref "), (lit(100000000L) + $"doc_id" * 31).cast("string")))
        Redaction.redact(dirty, "text")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_email").cast("long").as("n_email"),
            sum($"n_ipv4").cast("long").as("n_ipv4"),
            sum($"n_idnum").cast("long").as("n_idnum"),
            sum(Redaction.residual($"text_redacted")).cast("long").as("residual"),
            sum(length($"text") - length($"text_redacted")).cast("long")
              .as("chars_removed"))
          .orderBy($"source")
      },
      Some("""WITH dirty AS (SELECT doc_id, source,
            text || ' contact u' || CAST(doc_id AS VARCHAR) ||
            '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
            '.' || CAST((doc_id * 7) % 250 AS VARCHAR) ||
            '.' || CAST(doc_id % 97 AS VARCHAR) ||
            ' ref ' || CAST(100000000 + doc_id * 31 AS VARCHAR) AS text
          FROM documents),
        r1 AS (SELECT doc_id, source, text,
            len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_email,
            regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+',
              '<EMAIL>', 'g') AS t1
          FROM dirty),
        r2 AS (SELECT *, len(regexp_extract_all(t1,
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
            regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
              '<IP>', 'g') AS t2 FROM r1),
        r3 AS (SELECT *, len(regexp_extract_all(t2, '\b\d{8,}\b')) AS n_idnum,
            regexp_replace(t2, '\b\d{8,}\b', '<ID>', 'g') AS t3 FROM r2)
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_email) AS BIGINT) AS n_email,
          CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
          CAST(sum(n_idnum) AS BIGINT) AS n_idnum,
          CAST(sum(len(regexp_extract_all(t3, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
            + len(regexp_extract_all(t3, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
            + len(regexp_extract_all(t3, '\b\d{8,}\b'))) AS BIGINT) AS residual,
          CAST(sum(len(text) - len(t3)) AS BIGINT) AS chars_removed
        FROM r3 GROUP BY source ORDER BY source""")),

    // ---------------------------------------------------------------- q92
    // Per-source length profile with EXACT interpolated percentiles (the
    // distribution shape a mixture planner reads before setting packing
    // budgets). Spark's percentile and DuckDB's quantile_cont share the
    // same linear-interpolation definition (pos = p·(n−1)), so the values
    // compare exactly after the standard round(,6). One keyed sort-agg —
    // partial aggregation bounds the shuffle at groups × percentile state.
    QueryDef("q92_length_quantiles",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            min($"n_chars").as("min_chars"),
            round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
            round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
            round(expr("percentile(n_chars, 0.99)"), 6).as("p99_chars"),
            max($"n_chars").as("max_chars"))
          .orderBy($"source")
      },
      Some("""SELECT source, count(*) AS n_docs,
          min(n_chars) AS min_chars,
          round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
          round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
          round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
          max(n_chars) AS max_chars
        FROM documents GROUP BY source ORDER BY source""")),

    // --------------------------------------------------------------- q100
    // Incremental ingest: every 5th document plays the incoming batch, the
    // rest the existing corpus. Each incoming doc gets one verdict —
    // exact_dup (verbatim text already in the corpus, md5 semi-join),
    // near_dup (LSH band collision with a corpus doc refining to
    // Jaccard >= 0.5; best Jaccard reported), accepted. Scale story: the
    // corpus is never self-joined — candidates are corpus×batch within
    // (band, bucket) only, so re-ingesting into a 100 TB corpus costs
    // O(batch), not O(corpus²). The oracle plays the exhaustive
    // cross-scan; recall 1 at this threshold on the bimodal fixture (the
    // same empirical contract as q46, re-verified at both SFs).
    QueryDef("q100_incremental_ingest",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Dedup.incrementalVerdicts(
            docs.filter($"doc_id" % 5 =!= 0), docs.filter($"doc_id" % 5 === 0),
            threshold = 0.5)
          .orderBy($"doc_id")
      },
      Some(s"""WITH inc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        corp AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        ex AS (SELECT DISTINCT i.doc_id FROM inc i
          JOIN corp c ON md5(i.text) = md5(c.text)),
        si AS (SELECT doc_id, $shinglesSql AS sh FROM inc),
        sc AS (SELECT doc_id, $shinglesSql AS sh FROM corp),
        jp AS (SELECT a.doc_id,
            len(list_filter(a.sh, x -> list_contains(c.sh, x))) AS i2,
            len(a.sh) AS la, len(c.sh) AS lb
          FROM si a JOIN sc c ON true),
        nd AS (SELECT doc_id, max(j) AS bj FROM (
            SELECT doc_id, round(CASE WHEN la + lb - i2 > 0
              THEN i2 * 1.0 / (la + lb - i2) ELSE 0.0 END, 6) AS j FROM jp)
          WHERE j >= 0.5 GROUP BY doc_id)
        SELECT i.doc_id,
          CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nd.bj IS NOT NULL THEN 'near_dup'
            ELSE 'accepted' END AS verdict,
          CASE WHEN ex.doc_id IS NULL
            THEN CAST(nd.bj AS DOUBLE) END AS best_jaccard
        FROM inc i LEFT JOIN ex ON i.doc_id = ex.doc_id
          LEFT JOIN nd ON i.doc_id = nd.doc_id
        ORDER BY i.doc_id""")),

    // --------------------------------------------------------------- q101
    // Keep-policy canonicalization: q58 labels clusters with the MIN id
    // (identity); production keeps the BEST member. Every doc gets its
    // cluster, its quality score, and an is_canonical flag — highest
    // quality wins, ascending id breaks ties. One cluster-keyed window
    // pass on top of the pair graph; the O(n²) closure exists only in the
    // oracle.
    QueryDef("q101_canonical_by_quality",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val clusters = Dedup.nearDupClusters(
          Dedup.minhashNearDups(docs, threshold = 0.5))
        val members = docs
          .select($"doc_id", TextFunctions.qualityScore($"text").as("quality"))
          .join(clusters, Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"),
            $"quality")
        Dedup.canonicalByScore(members, "quality").orderBy($"doc_id")
      },
      Some(s"""$nearDupMinsSql,
        m AS (SELECT d.doc_id,
            COALESCE(LEAST(d.doc_id, mm.mn), d.doc_id) AS cluster_id,
            $qualitySql AS quality
          FROM documents d LEFT JOIN mins mm ON d.doc_id = mm.node)
        SELECT doc_id, cluster_id, quality,
          row_number() OVER (PARTITION BY cluster_id
            ORDER BY quality DESC, doc_id) = 1 AS is_canonical
        FROM m ORDER BY doc_id""")),

    // --------------------------------------------------------------- q102
    // Token-budget corpus assembly: per source, take docs best-quality-
    // first until a 5,000-token budget is filled (a doc enters only if it
    // fits whole). The selection is one source-keyed window cumsum — no
    // driver loop, no global sort; per-source summary out. The real-world
    // shape: "give me the best N tokens per domain" under a training
    // budget.
    QueryDef("q102_token_budget_selection",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val scored = t(s, dir, "documents")
          .select($"source", $"doc_id",
            TextFunctions.qualityScore($"text").as("quality"),
            TextFunctions.tokenCount($"text").cast("long").as("n_tokens"))
        val w = Window.partitionBy($"source")
          .orderBy($"quality".desc, $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored.withColumn("cum", sum($"n_tokens").over(w))
          .filter($"cum" <= 5000L)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_selected"),
            sum($"n_tokens").cast("long").as("tokens_selected"),
            round(sum($"n_tokens").cast("double") /
              lit(5000.0), 6).as("budget_frac"))
          .orderBy($"source")
      },
      Some(s"""WITH sc AS (SELECT source, doc_id, $qualitySql AS quality,
            CAST(len($wsSql) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM sc)
        SELECT source, count(*) AS n_selected,
          CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
          round(CAST(sum(n_tokens) AS DOUBLE) / CAST(5000 AS DOUBLE), 6)
            AS budget_frac
        FROM c WHERE cum <= 5000 GROUP BY source ORDER BY source""")),

    // --------------------------------------------------------------- q103
    // Deterministic multi-epoch shuffle: each doc gets an independent
    // md5-derived (shard, order_key) per epoch — a different stable
    // permutation per epoch with NO global sort and no rand() (retry- and
    // engine-reproducible). Audited as per-(epoch, shard) occupancy: 3×32
    // rows whatever the corpus size; near-uniform counts are the
    // correctness of the shuffle. Shard = leading 16 md5 bits mod 32,
    // mirrored in the oracle via explicit hex-char arithmetic.
    QueryDef("q103_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        Sampling.epochShards(t(s, dir, "documents"), epochs = 3, shards = 32)
          .groupBy($"epoch", $"shard")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"epoch", $"shard")
      },
      Some {
        def hx(i: Int) =
          s"(CASE WHEN ascii(substring(k, $i, 1)) >= 97 THEN ascii(substring(k, $i, 1)) - 87 ELSE ascii(substring(k, $i, 1)) - 48 END)"
        s"""WITH e AS (SELECT doc_id, epoch FROM documents
            CROSS JOIN (VALUES (0), (1), (2)) AS t(epoch)),
          kk AS (SELECT epoch, md5('graft-epoch-' || CAST(epoch AS VARCHAR)
              || ':' || CAST(doc_id AS VARCHAR)) AS k FROM e)
        SELECT epoch,
          CAST(((((${hx(1)} * 16 + ${hx(2)}) * 16 + ${hx(3)}) * 16 + ${hx(4)})
            % 32) AS BIGINT) AS shard,
          count(*) AS n_docs
        FROM kk GROUP BY 1, 2 ORDER BY epoch, shard"""
      }),

    // --------------------------------------------------------------- q106
    // Token-window chunking — the doc→training-sequence/RAG-passage split.
    // Each document becomes ⌈n/stride⌉ overlapping windows of `ChunkSize`
    // tokens (stride < size ⇒ `ChunkSize - ChunkStride` tokens of overlap),
    // fully declarative: sequence() generates window starts, explode fans
    // out, slice+array_join materialize the chunk — all codegen'd, no UDF,
    // and embarrassingly parallel (no shuffle at all until the final
    // presentation sort; at 100 TB the sort drops and chunks stream
    // straight to the writer).
    QueryDef("q106_token_chunking",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", TextFunctions.tokens($"text").as("ws"))
        docs
          .select($"doc_id", $"ws",
            explode(sequence(lit(1), greatest(size($"ws"), lit(1)),
              lit(ChunkStride))).as("start_token"))
          .select($"doc_id",
            // floor of an EXACT double (start-1 is a multiple of the stride)
            // — Column `/` is double division, so guard with floor+cast
            floor(($"start_token" - 1) / ChunkStride).cast("long").as("chunk_index"),
            $"start_token".cast("long").as("start_token"),
            least(lit(ChunkSize), size($"ws") - $"start_token" + 1)
              .cast("long").as("n_chunk_tokens"),
            array_join(slice($"ws", $"start_token", lit(ChunkSize)), " ").as("chunk_text"))
          .orderBy($"doc_id", $"chunk_index")
      },
      Some(s"""WITH d AS (SELECT doc_id, $wsSql AS ws FROM documents),
          st AS (SELECT doc_id, ws,
            unnest(range(1, greatest(len(ws), 1) + 1, $ChunkStride)) AS start_token
          FROM d)
        SELECT doc_id,
          CAST((start_token - 1) // $ChunkStride AS BIGINT) AS chunk_index,
          CAST(start_token AS BIGINT) AS start_token,
          CAST(least($ChunkSize, len(ws) - start_token + 1) AS BIGINT)
            AS n_chunk_tokens,
          array_to_string(list_slice(ws, start_token,
            start_token + ${ChunkSize - 1}), ' ') AS chunk_text
        FROM st ORDER BY doc_id, chunk_index""")),

    // --------------------------------------------------------------- q107
    // Train/val leakage audit: exact-duplicate fingerprints that appear in
    // BOTH sides of the deterministic hash split — the eval-contamination
    // check every split must pass before training. Reuses q60's split hash
    // and q34's md5 fingerprint; one groupBy over (fingerprint), corpus-
    // scale-safe (the HAVING keeps only duplicated fingerprints, orders of
    // magnitude smaller than the corpus).
    QueryDef("q107_split_leakage",
      (s, dir) => {
        import s.implicits._
        val split = Materialize.shared()(graft.operators.Sampling.deterministicSplit(
            t(s, dir, "documents"), valFraction = 0.1)
          .select($"doc_id", $"split", md5($"text").as("fingerprint")))
        val perSplit = split.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"fingerprint").as("n_fingerprints"))
        // fingerprints seen in BOTH splits = eval contamination; one scalar
        // joined onto every split row so the audit reads as a single table
        val leaked = split.groupBy($"fingerprint")
          .agg(countDistinct($"split").as("ns"))
          .filter($"ns" > 1L)
          .agg(count(lit(1)).as("leaked_fingerprints"))
        perSplit.crossJoin(leaked).orderBy($"split")
      },
      Some(s"""WITH s AS (SELECT doc_id, md5(text) AS fingerprint,
          CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '${graft.operators.Sampling.fractionThresholdHex(0.1)}'
               THEN 'val' ELSE 'train' END AS split
          FROM documents),
        ps AS (SELECT split, count(*) AS n_docs,
            count(DISTINCT fingerprint) AS n_fingerprints
          FROM s GROUP BY 1),
        lk AS (SELECT count(*) AS leaked_fingerprints FROM (
          SELECT fingerprint FROM s GROUP BY 1
          HAVING count(DISTINCT split) > 1))
        SELECT split, n_docs, n_fingerprints, leaked_fingerprints
        FROM ps CROSS JOIN lk ORDER BY split""")),

    // --------------------------------------------------------------- q109
    // Cross-source 3-gram overlap matrix: distinct-shingle Jaccard between
    // every source pair — the corpus-mixing diagnostic (which sources are
    // near-copies of each other / where boilerplate crosses source
    // boundaries). Shape matters at scale: the intersection is computed by
    // a GRAM-KEYED equi-join on the (source, gram) distinct set — never a
    // per-pair array intersect of corpus-sized token sets, and never an
    // S×S×corpus expansion. Output is at most S·(S−1)/2 rows.
    QueryDef("q109_source_overlap",
      (s, dir) => {
        import s.implicits._
        val sg = Materialize.shared()(t(s, dir, "documents")
          .select($"source", explode(
            TextFunctions.distinctShingles($"text", 3)).as("gram"))
          .distinct())
        val sizes = sg.groupBy($"source").agg(count(lit(1)).as("n"))
        val inter = sg.as("a")
          .join(sg.as("b"),
            col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select($"source".as("source_a"), $"n".as("na")), "source_a")
          .join(sizes.select($"source".as("source_b"), $"n".as("nb")), "source_b")
          .select($"source_a", $"source_b", $"inter",
            round($"inter".cast("double") /
              ($"na" + $"nb" - $"inter").cast("double"), 6).as("jaccard"))
          .orderBy($"source_a", $"source_b")
      },
      Some(s"""WITH sg AS (SELECT DISTINCT source, unnest($shinglesSql) AS gram
            FROM documents),
          sz AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
          itx AS (SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS inter
            FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
            GROUP BY 1, 2)
        SELECT source_a, source_b, inter,
          round(CAST(inter AS DOUBLE) /
            CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
        FROM itx JOIN sz sa ON sa.source = source_a
          JOIN sz sb ON sb.source = source_b
        ORDER BY source_a, source_b""")),

    // --------------------------------------------------------------- q110
    // Packing-efficiency audit on top of q61's sharded token packing: per
    // (shard, bin) occupancy — how many docs landed in each ~256-token
    // training bin, total tokens, and fill ratio vs budget. Overfull bins
    // (ratio > 1: a doc straddles the boundary) and underfull tails are the
    // two things a batch-building pipeline must see before training. Same
    // shard-partitioned window as q61 (never a global-order window), then
    // one partial-agg shuffle over (shard, bin).
    QueryDef("q110_packing_efficiency",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", TextFunctions.tokenCount($"text").as("n_tokens"))
        Sampling.packByTokenBudget(docs, "n_tokens", budget = 256, shards = 8)
          .groupBy($"shard", $"bin")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").cast("long").as("bin_tokens"),
            round(sum($"n_tokens").cast("double") / 256.0, 6).as("fill_ratio"))
          .orderBy($"shard", $"bin")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, doc_id % 8 AS shard, CAST(len($wsSql) AS BIGINT) AS n
          FROM documents),
        cum AS (
          SELECT doc_id, shard, n,
            CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
              AS tokens_before
          FROM toks)
        SELECT shard, CAST(FLOOR(tokens_before / 256.0) AS BIGINT) AS bin,
          count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens,
          round(CAST(sum(n) AS DOUBLE) / 256.0, 6) AS fill_ratio
        FROM cum GROUP BY 1, 2 ORDER BY shard, bin""")),

    // --------------------------------------------------------------- q111
    // Chunk-level exact dedup over q106's token windows: fingerprint every
    // chunk, count corpus-wide repeats, report each document's duplicated-
    // chunk ratio — the passage-granular "how much of this doc is verbatim
    // boilerplate" signal that document-level exact dedup (q34) cannot see.
    // One groupBy over chunk fingerprints (corpus-scale-safe: the fp table
    // is ~1.3x corpus tokens, the repeat set far smaller), one broadcast-
    // able join back, one per-doc aggregate.
    QueryDef("q111_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val chunks = Materialize.shared()(t(s, dir, "documents")
          .select($"doc_id", TextFunctions.tokens($"text").as("ws"))
          .select($"doc_id",
            explode(sequence(lit(1), greatest(size($"ws"), lit(1)),
              lit(ChunkStride))).as("start_token"), $"ws")
          .select($"doc_id",
            md5(array_join(slice($"ws", $"start_token", lit(ChunkSize)), " ")).as("fp")))
        val repeats = chunks.groupBy($"fp").agg(count(lit(1)).as("cnt"))
        chunks.join(repeats, "fp")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when($"cnt" > 1L, 1L).otherwise(0L)).cast("long").as("n_dup_chunks"),
            round(sum(when($"cnt" > 1L, 1.0).otherwise(0.0)) /
              count(lit(1)).cast("double"), 6).as("dup_ratio"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, $wsSql AS ws FROM documents),
          ch AS (SELECT doc_id,
            md5(array_to_string(list_slice(ws, start_token,
              start_token + ${ChunkSize - 1}), ' ')) AS fp
          FROM (SELECT doc_id, ws,
              unnest(range(1, greatest(len(ws), 1) + 1, $ChunkStride))
                AS start_token FROM d)),
          rep AS (SELECT fp, count(*) AS cnt FROM ch GROUP BY 1)
        SELECT doc_id, count(*) AS n_chunks,
          CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_chunks,
          round(sum(CASE WHEN cnt > 1 THEN 1.0 ELSE 0.0 END) /
            CAST(count(*) AS DOUBLE), 6) AS dup_ratio
        FROM ch JOIN rep USING (fp) GROUP BY doc_id ORDER BY doc_id""")),

    // --------------------------------------------------------------- q112
    // Quality-score calibration against the heuristic gate pack: bin the
    // continuous quality score (q31's formula) into fixed-width 0.1 bands —
    // the reliability-diagram form — and report each band's heuristic
    // keep-rate: the agreement curve between the two scoring systems every
    // curation pipeline runs side by side (a flat curve means the score
    // adds nothing over the gates; keep-rate should rise with the band).
    // Fixed-width binning is a pure per-row map + a ≤10-key aggregate — no
    // global-order window, no single-partition sort, flat cost at 100 TB.
    // (An earlier ntile() form was a global-sort window — the exact
    // single-partition trap the plan lint exists to keep out of this
    // catalog.) quality is already rounded to 4 dp in both engines, so the
    // floor(q*10) bucket edges are engine-exact.
    QueryDef("q112_quality_calibration",
      (s, dir) => {
        import s.implicits._
        val prof = HeuristicFilters.qualityProfile(t(s, dir, "documents"))
          .select($"doc_id", $"keep",
            TextFunctions.qualityScore($"text").as("quality"))
        prof
          .withColumn("band", least(lit(9L), floor($"quality" * 10).cast("long")))
          .groupBy($"band")
          .agg(count(lit(1)).as("n_docs"),
            round(min($"quality"), 4).as("min_quality"),
            round(max($"quality"), 4).as("max_quality"),
            round(sum(when($"keep", 1.0).otherwise(0.0)) /
              count(lit(1)).cast("double"), 6).as("keep_rate"))
          .orderBy($"band")
      },
      Some(s"""WITH $heurStatsSql,
          sc AS (SELECT st.doc_id, $heurKeepSql AS keep, q.quality
            FROM st JOIN (SELECT doc_id, $qualitySql AS quality
              FROM documents) q ON q.doc_id = st.doc_id),
          dd AS (SELECT *, least(9, CAST(floor(quality * 10) AS BIGINT))
              AS band FROM sc)
        SELECT band, count(*) AS n_docs,
          round(min(quality), 4) AS min_quality,
          round(max(quality), 4) AS max_quality,
          round(sum(CASE WHEN keep THEN 1.0 ELSE 0.0 END) /
            CAST(count(*) AS DOUBLE), 6) AS keep_rate
        FROM dd GROUP BY 1 ORDER BY band""")),

    // --------------------------------------------------------------- q114
    // Held-out bigram LM scoring with stupid backoff: the model trains on
    // the hash split's train side (q60's split), every document is scored —
    // so val-side docs exercise real unseen-bigram backoff, unlike q80's
    // self-trained unigram NLL where every bigram is by construction seen.
    // Per-position ln(p) rounds to 6 dp and accumulates as DECIMAL (exact
    // across engines); only the per-doc mean divides in double. All joins
    // are vocabulary-keyed; the scalar token total broadcasts.
    QueryDef("q114_bigram_nll",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val train = graft.operators.Sampling.deterministicSplit(
          docs, valFraction = 0.1).filter($"split" === "train")
        CorpusStats.bigramNll(docs, train).orderBy($"doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, text,
            CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                      < '${graft.operators.Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split,
            list_filter($wsSql, x -> len(x) > 0) AS wsf
          FROM documents),
        dbg AS (SELECT doc_id,
            unnest(list_slice(wsf, 1, len(wsf) - 1)) AS w1,
            unnest(list_slice(wsf, 2, len(wsf))) AS w2
          FROM base WHERE len(wsf) >= 2),
        tf AS (SELECT doc_id, w1, w2, count(*) AS m FROM dbg GROUP BY 1, 2, 3),
        mbg AS (SELECT doc_id,
            unnest(list_slice(wsf, 1, len(wsf) - 1)) AS w1,
            unnest(list_slice(wsf, 2, len(wsf))) AS w2
          FROM base WHERE split = 'train' AND len(wsf) >= 2),
        cb AS (SELECT w1, w2, count(*) AS cb FROM mbg GROUP BY 1, 2),
        c1 AS (SELECT term, count(*) AS c1 FROM (
            SELECT unnest(wsf) AS term FROM base WHERE split = 'train')
          GROUP BY 1),
        tot AS (SELECT sum(c1) AS t FROM c1),
        scored AS (SELECT tf.doc_id, tf.m,
            CAST(round(ln(CASE
              WHEN cb.cb IS NOT NULL AND cb.cb > 0
                THEN CAST(cb.cb AS DOUBLE) / ca.c1
              WHEN cw.c1 IS NOT NULL AND cw.c1 > 0
                THEN 0.4 * CAST(cw.c1 AS DOUBLE) / t
              ELSE 0.4 / t END), 6) AS DECIMAL(28,6)) * tf.m AS contrib
          FROM tf
          LEFT JOIN cb ON cb.w1 = tf.w1 AND cb.w2 = tf.w2
          LEFT JOIN c1 ca ON ca.term = tf.w1
          LEFT JOIN c1 cw ON cw.term = tf.w2
          CROSS JOIN tot),
        perdoc AS (SELECT doc_id, sum(m) AS n_bigrams, sum(contrib) AS sum_lp
          FROM scored GROUP BY 1)
        SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
          COALESCE(round(-CAST(sum_lp AS DOUBLE) / n_bigrams, 6),
            CAST(0.0 AS DOUBLE)) AS nll
        FROM documents d LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id""")),

    // --------------------------------------------------------------- q178
    // PMI collocation mining — the phrase-detection pass a tokenizer/vocab
    // pipeline runs before BPE training to promote multi-word units
    // (word2vec-phrases shape). Adjacent-pair counts with min-support
    // pruning, unigram marginals, ln-ratio score on the 6-dp grid; the
    // oracle spells the IDENTICAL IEEE op sequence for the ln argument so
    // both engines land on the same grid point. One pair-count shuffle +
    // two vocabulary joins + broadcast totals; top-k by TakeOrdered.
    QueryDef("q178_pmi_collocations",
      (s, dir) => {
        import s.implicits._
        CorpusStats.pmiCollocations(t(s, dir, "documents"),
            minCount = 5, k = 50)
          .orderBy($"pmi".desc, $"w1", $"w2")
      },
      Some(s"""WITH base AS (SELECT list_filter($wsSql, x -> len(x) > 0) AS wsf
            FROM documents),
        bg AS (SELECT unnest(list_slice(wsf, 1, len(wsf) - 1)) AS w1,
            unnest(list_slice(wsf, 2, len(wsf))) AS w2
          FROM base WHERE len(wsf) >= 2),
        cab AS (SELECT w1, w2, count(*) AS cab FROM bg
          GROUP BY 1, 2 HAVING count(*) >= 5),
        uni AS (SELECT term, count(*) AS c FROM (
            SELECT unnest(wsf) AS term FROM base) GROUP BY 1),
        tot AS (SELECT (SELECT sum(c) FROM uni) AS nu,
            (SELECT count(*) FROM bg) AS nb),
        scored AS (SELECT p.w1, p.w2, p.cab, a.c AS ca, b.c AS cb,
            round(ln((CAST(p.cab AS DOUBLE) / nb)
              / ((CAST(a.c AS DOUBLE) / nu)
                * (CAST(b.c AS DOUBLE) / nu))), 6) AS pmi
          FROM cab p JOIN uni a ON a.term = p.w1
          JOIN uni b ON b.term = p.w2 CROSS JOIN tot)
        SELECT w1, w2, CAST(cab AS BIGINT) AS cab, CAST(ca AS BIGINT) AS ca,
          CAST(cb AS BIGINT) AS cb, pmi
        FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50""")),

    // --------------------------------------------------------------- q180
    // FUZZY decontamination: q62's exact 13-gram gate cannot see a
    // benchmark item that was paraphrased or re-wrapped into the training
    // corpus; this closes that hole with cross-corpus MinHash banding
    // (corpus x eval through band buckets, never corpus x corpus) refined
    // by exact shingle-Jaccard. Per eval doc: contaminated flag, match
    // count, best Jaccard, lowest matching corpus id. The oracle runs the
    // exhaustive corpus x eval Jaccard scan — a banding recall miss or a
    // threshold drift on either side fails the compare loudly.
    QueryDef("q180_fuzzy_decontamination",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val eval = docs.filter($"doc_id" % 10 === 7)
        val corpus = docs.filter($"doc_id" % 10 =!= 7)
        val hits = Dedup.crossNearDups(corpus, eval, threshold = 0.5)
        eval.select($"doc_id")
          .join(hits.groupBy($"id_b".as("doc_id"))
            .agg(count(lit(1)).as("n_matches"),
              max($"jaccard").as("max_jaccard"),
              min($"id_a").as("first_match_id")), Seq("doc_id"), "left")
          .select($"doc_id",
            $"n_matches".isNotNull.as("contaminated"),
            coalesce($"n_matches", lit(0L)).as("n_matches"),
            coalesce($"max_jaccard", lit(0.0)).as("max_jaccard"),
            coalesce($"first_match_id", lit(-1L)).as("first_match_id"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
        ev AS (SELECT doc_id, sh FROM s WHERE doc_id % 10 = 7),
        co AS (SELECT doc_id, sh FROM s WHERE doc_id % 10 <> 7),
        jp AS (SELECT co.doc_id AS id_a, ev.doc_id AS id_b,
            len(list_filter(co.sh, x -> list_contains(ev.sh, x))) AS i,
            len(co.sh) AS la, len(ev.sh) AS lb
          FROM co CROSS JOIN ev),
        hits AS (SELECT id_a, id_b,
            round(CASE WHEN la + lb - i > 0
              THEN i * 1.0 / (la + lb - i) ELSE 0.0 END, 6) AS jac
          FROM jp),
        hh AS (SELECT id_b, count(*) AS n, max(jac) AS mx,
            min(id_a) AS fst FROM hits WHERE jac >= 0.5 GROUP BY 1)
        SELECT e.doc_id, hh.id_b IS NOT NULL AS contaminated,
          CAST(COALESCE(n, 0) AS BIGINT) AS n_matches,
          COALESCE(mx, 0.0) AS max_jaccard,
          CAST(COALESCE(fst, -1) AS BIGINT) AS first_match_id
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) e
        LEFT JOIN hh ON hh.id_b = e.doc_id ORDER BY e.doc_id""")),

    // --------------------------------------------------------------- q197
    // The VERBATIM-span decontamination gate (Decontamination.substrHits),
    // previously spec-only: a (corpus doc, eval item) pair is contaminated
    // iff they share a >= 40-char verbatim substring — detected by one
    // positional 40-gram existence join, no diagonal-run pass (a shared
    // span of length >= L exists iff an L-gram anchor matches). Eval items
    // are synthesized as verbatim 120-char excerpts of every 97th document
    // (the leakage shape: benchmark text lifted straight from the crawl),
    // so each excerpt must at minimum hit its own source doc, and any doc
    // sharing the excerpted passage also surfaces. The eval gram index is
    // BROADCAST (benchmark suites are small and fixed-size; they don't
    // grow with the corpus), so the corpus side is a map-only gram
    // projection feeding a BroadcastHashJoin — zero corpus-side exchange,
    // the plan shape that makes the gate viable per-ingest-batch at
    // 100 TB. The oracle recomputes the join on gram STRINGS, so a hash
    // collision or an off-by-one in the positional gram frame fails the
    // compare loudly.
    QueryDef("q197_substr_decontamination",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val eval = docs
          .filter($"doc_id" % 97 === 0 && length($"text") >= 130)
          .select($"doc_id", substring($"text", 10, 120).as("text"))
        Decontamination.substrHits(docs, eval).distinct()
          .orderBy($"doc_id", $"eval_id")
      },
      Some("""WITH ev AS (
          SELECT doc_id AS eval_id, substr(text, 10, 120) AS etext
          FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 130),
        eg AS (
          SELECT DISTINCT eval_id, substr(etext, CAST(pos AS INT), 40) AS gram
          FROM ev, unnest(range(1, length(etext) - 40 + 2)) AS t(pos)),
        cg AS (
          SELECT DISTINCT doc_id, substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos))
        SELECT DISTINCT cg.doc_id, eg.eval_id
        FROM cg JOIN eg USING (gram)
        ORDER BY doc_id, eval_id""")),

    // --------------------------------------------------------------- q115
    // Near-dup-aware eval split: q107 audits EXACT-dup leakage; this closes
    // the remaining hole — near-duplicates straddling train/val. The split
    // key is the near-dup CLUSTER id (q58's machinery), so a whole cluster
    // lands on one side by construction. Output: per-split doc/cluster
    // counts plus the cross-split near-dup-pair count, which must be 0 —
    // the oracle recomputes clusters via the exhaustive recursive closure
    // and checks the same invariant, so a pair-crossing bug in either the
    // clustering or the split assignment fails the compare loudly.
    QueryDef("q115_leakage_safe_split",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val pairs = Materialize.shared()(
          Dedup.minhashNearDups(docs, threshold = 0.5).select($"id_a", $"id_b"))
        val clusters = Dedup.nearDupClusters(pairs)
        val labeled = graft.operators.Sampling.deterministicSplit(
          docs.select($"doc_id").join(clusters, Seq("doc_id"), "left")
            .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id")),
          valFraction = 0.1, idCol = "cluster_id")
        val perSplit = labeled.groupBy($"split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"cluster_id").as("n_clusters"))
        val crossing = pairs
          .join(labeled.select($"doc_id".as("id_a"), $"split".as("sa")), "id_a")
          .join(labeled.select($"doc_id".as("id_b"), $"split".as("sb")), "id_b")
          .filter($"sa" =!= $"sb")
          .agg(count(lit(1)).as("crossing_pairs"))
        perSplit.crossJoin(crossing).orderBy($"split")
      },
      Some(s"""$nearDupMinsSql,
        lab AS (SELECT d.doc_id,
            COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN mins m ON d.doc_id = m.node),
        sp AS (SELECT doc_id, cluster_id,
            CASE WHEN substr(md5('graft-split' || CAST(cluster_id AS VARCHAR)), 1, 8)
                      < '${graft.operators.Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split
          FROM lab),
        ps AS (SELECT split, count(*) AS n_docs,
            count(DISTINCT cluster_id) AS n_clusters FROM sp GROUP BY 1),
        cx AS (SELECT count(*) AS crossing_pairs FROM pairs p
          JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b
          WHERE a.split <> b.split)
        SELECT split, n_docs, n_clusters, crossing_pairs
        FROM ps CROSS JOIN cx ORDER BY split""")),

    // --------------------------------------------------------------- q116
    // Incremental cluster maintenance: the corpus is split into an existing
    // corpus (doc_id % 5 != 0, pre-clustered) and an arriving batch; the
    // batch folds in via star edges + (in-batch ∪ corpus×batch) near-dup
    // pairs — NO re-walk of the old pair graph (see Dedup.mergeClusters for
    // the equality argument). The oracle is q58's exhaustive recursive
    // closure over the WHOLE corpus: the incremental path must produce
    // labels identical to a full re-cluster, including clusters MERGED by a
    // batch doc bridging two previously-separate clusters.
    QueryDef("q116_incremental_clusters",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // Fixture mechanics vs operator under test: the operator being
        // pinned is mergeClusters (labels from stars ∪ batch pairs). The
        // PAIR sets for both epochs come from ONE LSH pass over the full
        // corpus, split by membership afterwards — banding a subset yields
        // exactly the subset's pairs (bucket membership is per-pair), so
        // this matches per-epoch generation while computing signatures
        // once instead of three times (measured 9 s → ~4 s at sf0.1).
        // CAVEAT: the identity holds only while no bucket trips the
        // degenerate-bucket cap — bucketPairs caps on WHOLE-CORPUS bucket
        // occupancy, so a bucket over-cap in the full corpus could be
        // under-cap in the old-epoch subset and per-epoch generation would
        // keep pairs this split drops. The exhaustive oracle would flag
        // that divergence; on this fixture no bucket approaches the cap. Incremental PAIR generation at O(batch) is q100/
        // crossNearDups' contract; incremental LABEL maintenance is this
        // query's.
        val allPairs = Materialize.shared()(
          Dedup.minhashNearDups(docs, threshold = 0.5).select($"id_a", $"id_b"))
        val bothOld = ($"id_a" % 5 =!= 0) && ($"id_b" % 5 =!= 0)
        val oldLabels = Dedup.nearDupClusters(allPairs.filter(bothOld))
        val merged = Dedup.mergeClusters(oldLabels, allPairs.filter(!bothOld))
        docs.select($"doc_id")
          .join(merged, Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
          .orderBy($"doc_id")
      },
      Some(s"""$nearDupMinsSql
        SELECT d.doc_id,
          COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
        ORDER BY d.doc_id""")),

    // --------------------------------------------------------------- q117
    // Temperature-scaled mixture plan (the multilingual-upsampling scheme:
    // share_i ∝ T_i^α over per-source token totals). α = 0.5 is computed
    // with sqrt — IEEE-exact in both engines, unlike a general pow() whose
    // libm may differ at the last ulp. epochs > 1 means the source is
    // UPSAMPLED (seen more than once per pass) — the column a data-mixing
    // owner reads to spot low-resource sources being over-repeated.
    // Completes the mixture family: q70/q71 take explicit target shares;
    // this derives them from the corpus itself. One vocabulary-sized
    // aggregate + a scalar broadcast; nothing corpus-sized moves twice.
    QueryDef("q117_temperature_mix",
      (s, dir) => {
        import s.implicits._
        val budget = 100000.0
        val tok = t(s, dir, "documents")
          .select($"source", TextFunctions.tokenCount($"text").as("nt"))
          .groupBy($"source").agg(sum($"nt").cast("long").as("n_tokens"))
        val z = tok.agg(sum(sqrt($"n_tokens".cast("double"))).as("z"))
        tok.crossJoin(broadcast(z))
          .select($"source", $"n_tokens",
            round(sqrt($"n_tokens".cast("double")) / $"z", 6).as("share"),
            round(lit(budget) * sqrt($"n_tokens".cast("double")) / $"z", 2)
              .as("target_tokens"),
            round(lit(budget) * sqrt($"n_tokens".cast("double")) / $"z" /
              $"n_tokens".cast("double"), 6).as("epochs"))
          .orderBy($"source")
      },
      Some(s"""WITH tok AS (SELECT source,
            CAST(sum(len($wsSql)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        z AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z FROM tok)
        SELECT source, n_tokens,
          round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS share,
          round(100000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / z, 2)
            AS target_tokens,
          round(100000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / z /
            CAST(n_tokens AS DOUBLE), 6) AS epochs
        FROM tok CROSS JOIN z ORDER BY source""")),

    // --------------------------------------------------------------- q118
    // Cross-document LINE dedup (RefinedWeb/CCNet boilerplate removal):
    // lines recurring across > maxDocFreq documents are template chrome —
    // invisible to whole-doc dedup (q34) and to per-doc line heuristics
    // (q77's C4 pass judges lines in isolation). Spark side: line explode →
    // ONE df aggregate on the line fingerprint (two-level groupBy, both
    // partial-aggregable) → broadcast of the small boilerplate fp set back
    // onto the lines → per-doc reassembly in original line order. The
    // oracle recomputes document frequency exhaustively in SQL.
    QueryDef("q118_line_dedup",
      (s, dir) => {
        import s.implicits._
        // the fixture's texts are single-line word streams, so the unit of
        // boilerplate here is the " the "-delimited segment — same
        // operator, same df/join/reassembly machinery a "\n" corpus runs,
        // but this boundary actually yields cross-document repeats (df up
        // to ~5) for the oracle to check removal AND order-preserving
        // reassembly against
        Dedup.lineLevelDedup(t(s, dir, "documents"), maxDocFreq = 1L,
            lineSep = " the ", rejoinSep = " the ")
          .orderBy($"doc_id")
      },
      Some("""WITH ln AS (
          SELECT doc_id, i AS pos, ls[i] AS line,
            md5(lower(trim(ls[i]))) AS fp
          FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
                FROM (SELECT doc_id, string_split(text, ' the ') AS ls
                      FROM documents))),
        dfreq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM ln GROUP BY 1),
        verdict AS (SELECT ln.*, (df > 1) AS is_boiler
                    FROM ln JOIN dfreq USING (fp))
        SELECT doc_id,
          count(*) AS n_lines,
          CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
            AS n_boilerplate,
          coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END,
            ' the ' ORDER BY pos), '') AS text_clean
        FROM verdict GROUP BY doc_id ORDER BY doc_id""")),

    // --------------------------------------------------------------- q119
    // The curation funnel with the cross-document line-dedup pass wired in
    // (RefinedWeb stage order: line-level boilerplate removal BEFORE
    // document-level dedup, because stripping shared chrome is what makes
    // near-identical article bodies become exact dups): q118's cleaning →
    // boilerplate-ratio gate (integer arithmetic: 2·n_boiler <= n_lines,
    // and a non-empty survivor) → exact dedup on the CLEANED text → per-
    // source accounting of docs/tokens in vs kept. Every stage is keyed on
    // doc_id / fp / source — the funnel adds no new shuffle class.
    QueryDef("q119_funnel_line_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val cleaned = Dedup.lineLevelDedup(docs, maxDocFreq = 1L,
          lineSep = " the ", rejoinSep = " the ")
        val joined = docs.select($"doc_id", $"source", $"text")
          .join(cleaned, "doc_id")
        val gated = joined.filter(
          $"n_boilerplate" * 2 <= $"n_lines" && length(trim($"text_clean")) > 0)
        val surv = gated
          .withColumn("fp", TextFunctions.fingerprint($"text_clean"))
          .withColumn("rn",
            row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
          .filter($"rn" === 1)
        val ins = joined.groupBy($"source").agg(
          count(lit(1)).as("n_docs_in"),
          sum(TextFunctions.tokenCount($"text")).as("tokens_in"),
          sum($"n_boilerplate").as("boiler_lines"))
        val outs = surv.groupBy($"source").agg(
          count(lit(1)).as("n_docs_kept"),
          sum(TextFunctions.tokenCount($"text_clean")).as("tokens_kept"))
        ins.join(outs, Seq("source"), "left")
          .select($"source", $"n_docs_in", $"tokens_in", $"boiler_lines",
            coalesce($"n_docs_kept", lit(0L)).as("n_docs_kept"),
            coalesce($"tokens_kept", lit(0L)).as("tokens_kept"))
          .orderBy($"source")
      },
      Some(s"""WITH ln AS (
          SELECT doc_id, i AS pos, ls[i] AS line,
            md5(lower(trim(ls[i]))) AS fp
          FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
                FROM (SELECT doc_id, string_split(text, ' the ') AS ls
                      FROM documents))),
        dfreq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM ln GROUP BY 1),
        verdict AS (SELECT ln.*, (df > 1) AS is_boiler
                    FROM ln JOIN dfreq USING (fp)),
        cleaned AS (SELECT doc_id, count(*) AS n_lines,
            sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS n_boiler,
            coalesce(string_agg(CASE WHEN NOT is_boiler THEN line END,
              ' the ' ORDER BY pos), '') AS text_clean
          FROM verdict GROUP BY doc_id),
        j AS (SELECT d.doc_id, d.source, d.text, c.n_lines, c.n_boiler,
            c.text_clean
          FROM documents d JOIN cleaned c USING (doc_id)),
        gated AS (SELECT * FROM j
          WHERE 2 * n_boiler <= n_lines AND len(trim(text_clean)) > 0),
        surv AS (SELECT *, row_number() OVER (PARTITION BY
            md5(lower(regexp_replace(text_clean, '[^a-zA-Z0-9]', '', 'g')))
            ORDER BY doc_id) AS rn FROM gated),
        ins AS (SELECT source, count(*) AS n_docs_in,
            CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
              AS tokens_in,
            CAST(sum(n_boiler) AS BIGINT) AS boiler_lines
          FROM j GROUP BY 1),
        outs AS (SELECT source, count(*) AS n_docs_kept,
            CAST(sum(len(string_split_regex(trim(text_clean), '\\s+')))
              AS BIGINT) AS tokens_kept
          FROM surv WHERE rn = 1 GROUP BY 1)
        SELECT source, n_docs_in, tokens_in, boiler_lines,
          COALESCE(n_docs_kept, 0) AS n_docs_kept,
          COALESCE(tokens_kept, 0) AS tokens_kept
        FROM ins LEFT JOIN outs USING (source) ORDER BY source""")),

    // --------------------------------------------------------------- q120
    // BPE tokenizer training, round-zero pair statistics: the argmax row of
    // this frame is the first merge a Sennrich-BPE trainer performs. The
    // one corpus-sized stage is the word-frequency groupBy; pair explode
    // and counting run over the DISTINCT-word vocabulary weighted by freq —
    // which is why tokenizer trainers scale to 100 TB corpora (vocab is
    // millions of rows, not trillions). The full iterative trainer
    // (argmax → merge → recount, one bounded driver row per round) is
    // CorpusStats.bpeTrain, pinned by spec against the textbook example.
    QueryDef("q120_bpe_pair_stats",
      (s, dir) => {
        import s.implicits._
        CorpusStats.bpePairCounts(
            CorpusStats.bpeVocab(t(s, dir, "documents")))
          .orderBy($"cnt".desc, $"pair")
      },
      Some(s"""WITH w AS (SELECT unnest(list_filter(
            string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0))
            AS word FROM documents),
        wf AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        p AS (SELECT word, freq, unnest(list_transform(range(1, len(word)),
            i -> substr(word, i, 1) || ' ' || substr(word, i + 1, 1))) AS pair
          FROM wf WHERE len(word) >= 2)
        SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt,
          count(DISTINCT word) AS n_words
        FROM p GROUP BY 1 ORDER BY cnt DESC, pair""")),

    // --------------------------------------------------------------- q123
    // CCNet perplexity-band partition (Wenzek et al. 2020 §4.4): every doc
    // scored by the held-out bigram LM (q114's model and determinism
    // contract), assigned head/middle/tail by FIXED thresholds, accounted
    // per (source, band). CCNet calibrates thresholds as percentiles of a
    // sample then applies them as constants — the scale-safe form (a global
    // percentile assignment would be the q112 global-sort trap). The
    // constants here sit at the fixture corpus's quartiles, so all three
    // bands are populated and the oracle exercises both boundaries.
    QueryDef("q123_perplexity_band",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val train = graft.operators.Sampling.deterministicSplit(
          docs, valFraction = 0.1).filter($"split" === "train")
        CorpusStats.perplexityBands(docs, train,
            headMax = 3.39, middleMax = 3.425)
          .orderBy($"source", $"band")
      },
      Some(s"""WITH base AS (SELECT doc_id, text,
            CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                      < '${graft.operators.Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split,
            list_filter($wsSql, x -> len(x) > 0) AS wsf
          FROM documents),
        dbg AS (SELECT doc_id,
            unnest(list_slice(wsf, 1, len(wsf) - 1)) AS w1,
            unnest(list_slice(wsf, 2, len(wsf))) AS w2
          FROM base WHERE len(wsf) >= 2),
        tf AS (SELECT doc_id, w1, w2, count(*) AS m FROM dbg GROUP BY 1, 2, 3),
        mbg AS (SELECT doc_id,
            unnest(list_slice(wsf, 1, len(wsf) - 1)) AS w1,
            unnest(list_slice(wsf, 2, len(wsf))) AS w2
          FROM base WHERE split = 'train' AND len(wsf) >= 2),
        cb AS (SELECT w1, w2, count(*) AS cb FROM mbg GROUP BY 1, 2),
        c1 AS (SELECT term, count(*) AS c1 FROM (
            SELECT unnest(wsf) AS term FROM base WHERE split = 'train')
          GROUP BY 1),
        tot AS (SELECT sum(c1) AS t FROM c1),
        scored AS (SELECT tf.doc_id, tf.m,
            CAST(round(ln(CASE
              WHEN cb.cb IS NOT NULL AND cb.cb > 0
                THEN CAST(cb.cb AS DOUBLE) / ca.c1
              WHEN cw.c1 IS NOT NULL AND cw.c1 > 0
                THEN 0.4 * CAST(cw.c1 AS DOUBLE) / t
              ELSE 0.4 / t END), 6) AS DECIMAL(28,6)) * tf.m AS contrib
          FROM tf
          LEFT JOIN cb ON cb.w1 = tf.w1 AND cb.w2 = tf.w2
          LEFT JOIN c1 ca ON ca.term = tf.w1
          LEFT JOIN c1 cw ON cw.term = tf.w2
          CROSS JOIN tot),
        perdoc AS (SELECT doc_id, sum(m) AS n_bigrams, sum(contrib) AS sum_lp
          FROM scored GROUP BY 1),
        nll AS (SELECT d.doc_id,
            CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
            COALESCE(round(-CAST(sum_lp AS DOUBLE) / n_bigrams, 6),
              CAST(0.0 AS DOUBLE)) AS nll
          FROM documents d LEFT JOIN perdoc USING (doc_id)),
        banded AS (SELECT s.source, n.n_bigrams, n.nll,
            CASE WHEN n.nll < 3.39 THEN 'head'
                 WHEN n.nll < 3.425 THEN 'middle'
                 ELSE 'tail' END AS band
          FROM nll n JOIN documents s USING (doc_id))
        SELECT source, band, count(*) AS n_docs,
          CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
          round(CAST(sum(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
            AS mean_nll
        FROM banded GROUP BY 1, 2 ORDER BY source, band""")),

    // --------------------------------------------------------------- q124
    // ROLLUP corpus accounting: doc and token totals at (source, lang),
    // per-source, and grand-total grain in ONE pass — the report a corpus
    // owner actually reads (every level of the hierarchy without three
    // scans or a self-union). Spark's rollup and DuckDB's GROUP BY ROLLUP
    // share semantics exactly; the grouping-marker columns disambiguate
    // subtotal rows from genuine values. Partial aggregation applies at
    // every grouping set, so the shuffle carries (sets x distinct keys)
    // combined rows, not the corpus.
    QueryDef("q124_rollup_report",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("toks", TextFunctions.tokenCount($"text"))
          .rollup($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"),
            grouping($"source").cast("long").as("g_source"),
            grouping($"lang").cast("long").as("g_lang"))
          .select(coalesce($"source", lit("(all)")).as("source"),
            coalesce($"lang", lit("(all)")).as("lang"),
            $"g_source", $"g_lang", $"n_docs", $"tokens")
          .orderBy($"g_source", $"g_lang", $"source", $"lang")
      },
      Some(s"""SELECT COALESCE(source, '(all)') AS source,
          COALESCE(lang, '(all)') AS lang,
          CAST(grouping(source) AS BIGINT) AS g_source,
          CAST(grouping(lang) AS BIGINT) AS g_lang,
          count(*) AS n_docs,
          CAST(sum(len($wsSql)) AS BIGINT) AS tokens
        FROM documents GROUP BY ROLLUP(source, lang)
        ORDER BY g_source, g_lang, source, lang""")),

    // --------------------------------------------------------------- q130
    // Pivot: the source x language doc-count matrix as columns — the
    // crosstab every corpus dashboard renders. The language domain is
    // passed EXPLICITLY (the fixture's five codes): at 100 TB an implicit
    // pivot first runs a full distinct scan to discover the column set and
    // bakes a nondeterministic schema; explicit values make the pivot a
    // single pass with a fixed schema, which is also what keeps the
    // oracle's conditional aggregation aligned column-for-column.
    QueryDef("q130_lang_pivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy($"source")
          .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
          .agg(count(lit(1)))
          .select($"source",
            coalesce($"de", lit(0L)).as("de"), coalesce($"en", lit(0L)).as("en"),
            coalesce($"es", lit(0L)).as("es"), coalesce($"fr", lit(0L)).as("fr"),
            coalesce($"zh", lit(0L)).as("zh"))
          .orderBy($"source")
      },
      Some("""SELECT source,
          CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
          CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
          CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
          CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
          CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
        FROM documents GROUP BY source ORDER BY source""")),

    // --------------------------------------------------------------- q131
    // The custom per-group top-k operator (rung (d): logical node +
    // strategy + two-phase heap exec, org.apache.spark.sql.graft
    // .TopKPerKey) on the longest-documents-per-source question. The
    // window idiom this replaces sorts whole partitions and shuffles
    // every row; the operator's partial phase bounds the exchange at
    // k rows per (source, partition) and sorts NOTHING — O(rows log k),
    // the shape that wins at corpus scale. The oracle is the window
    // idiom, so the compare proves operator == row_number semantics
    // (total order via the n_chars desc, doc_id asc tiebreak).
    QueryDef("q131_native_topk",
      (s, dir) => {
        import s.implicits._
        org.apache.spark.sql.graft.GraftExtensions.registerInto(s)
        org.apache.spark.sql.graft.TopKPerKey(
            t(s, dir, "documents").select($"source", $"doc_id", $"n_chars"),
            keys = Seq($"source"),
            order = Seq($"n_chars".desc, $"doc_id".asc), k = 3)
          .orderBy($"source", $"n_chars".desc, $"doc_id")
      },
      Some("""SELECT source, doc_id, n_chars FROM (
          SELECT source, doc_id, n_chars, row_number() OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents) WHERE rn <= 3
        ORDER BY source, n_chars DESC, doc_id""")),

    // --------------------------------------------------------------- q184
    // TRUE exact-substring dedup (Lee-et-al ExactSubstr, distributed):
    // every maximal verbatim >=40-char span shared by two documents, with
    // exact offsets and length — the operator q69's winnowing fingerprints
    // only approximate. Anchor+extend: consecutive matching 40-gram
    // hashes on one (pair, alignment) diagonal ARE the span (run length m
    // <=> span length m+39); gram hashes seen in only one doc never reach
    // the pair join. Spark joins on xxhash64 of the gram (8-byte shuffle
    // keys — the 100 TB form); the oracle joins on the gram STRING, so a
    // hash collision (~1e-19/pair) would surface as a mismatch, not hide.
    // 25 maximal spans at sf0.01, 259 at sf0.1 — real template overlap in
    // the fixture, found exactly.
    QueryDef("q184_exact_substr_spans",
      (s, dir) => {
        import s.implicits._
        Dedup.exactSubstrSpans(t(s, dir, "documents"), minLen = 40)
          .orderBy($"doc_a", $"doc_b", $"start_a", $"start_b")
      },
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag, pos_a,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
          FROM m)
        SELECT doc_a, doc_b, min(pos_a) AS start_a,
          CAST(min(pos_a) - diag AS BIGINT) AS start_b,
          CAST(count(*) + 40 - 1 AS BIGINT) AS span_len
        FROM r GROUP BY doc_a, doc_b, diag, run_id
        ORDER BY doc_a, doc_b, start_a, start_b""")),

    // --------------------------------------------------------------- q185
    // DSIR importance resampling (Xie et al. 2023) — the standard
    // domain-matching selector: from the raw pool (lang <> 'en'), pick the
    // 50 docs whose hashed unigram+bigram profile best matches the target
    // domain (lang = 'en') by Gumbel-top-k over add-one-smoothed
    // log-likelihood ratios. Everything is engine-portable: md5 buckets
    // and Gumbel coins, 6-dp-rounded per-bucket ratios accumulated as
    // DECIMAL, rank on the exact DECIMAL score — the oracle re-derives the
    // whole pipeline (features, models, weights, noise, selection) in SQL.
    QueryDef("q185_dsir_selection",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Sampling.dsirResample(
            raw = docs.filter($"lang" =!= "en"),
            target = docs.filter($"lang" === "en"),
            k = 50, buckets = 256)
          .orderBy($"rank")
      },
      Some("""WITH d AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(trim(text), '\s+'),
              x -> length(x) > 0) AS w
          FROM documents),
        f AS (
          SELECT doc_id, lang, unnest(w) AS f FROM d
          UNION ALL
          SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
            i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS f
          FROM d),
        fb AS (
          SELECT doc_id, lang,
            CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 256 AS bucket,
            count(*) AS cnt
          FROM f GROUP BY 1, 2, 3),
        tb AS (SELECT bucket, sum(cnt) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
        rb AS (SELECT bucket, sum(cnt) AS cr FROM fb WHERE lang <> 'en' GROUP BY 1),
        lr AS (
          SELECT bucket,
            round(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                     / CAST((SELECT sum(ct) FROM tb) + 256 AS DOUBLE))
                - ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                     / CAST((SELECT sum(cr) FROM rb) + 256 AS DOUBLE)), 6) AS lr
          FROM tb FULL JOIN rb USING (bucket)),
        wgt AS (
          SELECT fb.doc_id,
            CAST(sum(CAST(lr AS DECIMAL(28,6)) * cnt) AS DECIMAL(38,6)) AS logw
          FROM fb JOIN lr USING (bucket) WHERE fb.lang <> 'en' GROUP BY 1),
        sc AS (
          SELECT r.doc_id,
            COALESCE(wgt.logw, CAST(0 AS DECIMAL(38,6))) AS logw,
            CAST(COALESCE(wgt.logw, CAST(0 AS DECIMAL(38,6)))
              + CAST(round(-ln(-ln(
                  CAST(CAST(concat('0x', substr(md5('graft-dsir:'
                    || CAST(r.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 1000000 + 1 AS DOUBLE) / 1000001.0)), 6)
                AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS score
          FROM (SELECT doc_id FROM documents WHERE lang <> 'en') r
          LEFT JOIN wgt ON r.doc_id = wgt.doc_id)
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
            AS rank,
          doc_id, CAST(logw AS DOUBLE) AS logw, CAST(score AS DOUBLE) AS score
        FROM sc ORDER BY score DESC, doc_id LIMIT 50""")),

    // --------------------------------------------------------------- q186
    // Exact duplicated-span coverage per document — q184's decision layer
    // (and q137's exact counterpart): the fraction of each doc's chars
    // inside some verbatim >=40-char shared span, the number an
    // ExactSubstr pipeline thresholds to trim or drop. Interval union via
    // the ordered sweep (one bounded window + one sum), never per-char
    // explode; integers until the one 6-dp division at the edge.
    QueryDef("q186_substr_coverage",
      (s, dir) => {
        import s.implicits._
        Dedup.exactSubstrCoverage(t(s, dir, "documents"), minLen = 40)
          .orderBy($"doc_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag, pos_a,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
          FROM m),
        spans AS (
          SELECT doc_a, doc_b, min(pos_a) AS start_a,
            CAST(min(pos_a) - diag AS BIGINT) AS start_b,
            CAST(count(*) + 40 - 1 AS BIGINT) AS span_len
          FROM r GROUP BY doc_a, doc_b, diag, run_id),
        iv AS (
          SELECT doc_a AS doc_id, start_a AS s, start_a + span_len AS e
          FROM spans
          UNION
          SELECT doc_b, start_b, start_b + span_len FROM spans),
        w2 AS (
          SELECT doc_id, s, e,
            max(e) OVER (PARTITION BY doc_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        cov AS (
          SELECT doc_id, sum(CASE
              WHEN e > greatest(s, COALESCE(pm, 0))
              THEN e - greatest(s, COALESCE(pm, 0)) ELSE 0 END) AS covered
          FROM w2 GROUP BY 1)
        SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
          CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_chars,
          CASE WHEN length(d.text) > 0
            THEN round(CAST(COALESCE(cov.covered, 0) AS DOUBLE)
              / length(d.text), 6)
            ELSE 0.0 END AS coverage
        FROM documents d LEFT JOIN cov USING (doc_id)
        ORDER BY doc_id""")),

    // --------------------------------------------------------------- q187
    // GPT-3-style classifier filtering (Brown et al. 2020 App. A) — the
    // discriminative selector beside q185's importance resampling, same
    // hashed n-gram models: Naive Bayes log-odds = class prior + the DSIR
    // log weight, posterior = sigmoid, and a doc is kept when the
    // deterministic Pareto(9) draw exceeds 1 - posterior (high scorers
    // kept almost surely; a calibrated low-score tail survives for
    // distribution coverage). Oracle re-derives models, prior, posterior,
    // Pareto coin, and the keep decision in SQL.
    QueryDef("q187_classifier_filter",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        Sampling.classifierFilter(
            raw = docs.filter($"lang" =!= "en"),
            target = docs.filter($"lang" === "en"),
            buckets = 256)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(trim(text), '\s+'),
              x -> length(x) > 0) AS w
          FROM documents),
        f AS (
          SELECT doc_id, lang, unnest(w) AS f FROM d
          UNION ALL
          SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
            i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS f
          FROM d),
        fb AS (
          SELECT doc_id, lang,
            CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 256 AS bucket,
            count(*) AS cnt
          FROM f GROUP BY 1, 2, 3),
        tb AS (SELECT bucket, sum(cnt) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
        rb AS (SELECT bucket, sum(cnt) AS cr FROM fb WHERE lang <> 'en' GROUP BY 1),
        lr AS (
          SELECT bucket,
            round(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                     / CAST((SELECT sum(ct) FROM tb) + 256 AS DOUBLE))
                - ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                     / CAST((SELECT sum(cr) FROM rb) + 256 AS DOUBLE)), 6) AS lr
          FROM tb FULL JOIN rb USING (bucket)),
        wgt AS (
          SELECT fb.doc_id,
            CAST(sum(CAST(lr AS DECIMAL(28,6)) * cnt) AS DECIMAL(38,6)) AS logw
          FROM fb JOIN lr USING (bucket) WHERE fb.lang <> 'en' GROUP BY 1),
        sel AS (
          SELECT r.doc_id,
            CAST(CAST(round(ln(
                CAST((SELECT count(*) FROM documents WHERE lang = 'en') AS DOUBLE)
                / (SELECT count(*) FROM documents WHERE lang <> 'en')), 6)
              AS DECIMAL(28,6))
              + COALESCE(wgt.logw, CAST(0 AS DECIMAL(38,6)))
              AS DECIMAL(38,6)) AS logodds
          FROM (SELECT doc_id FROM documents WHERE lang <> 'en') r
          LEFT JOIN wgt ON r.doc_id = wgt.doc_id),
        ps AS (
          SELECT doc_id, logodds,
            round(1.0 / (1.0 + exp(-CAST(logodds AS DOUBLE))), 6) AS posterior,
            round(pow(
              CAST(CAST(concat('0x', substr(md5('graft-clf:'
                || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000 + 1 AS DOUBLE) / 1000001.0, -1.0 / 9.0) - 1.0, 6)
              AS pareto_draw
          FROM sel)
        SELECT doc_id, CAST(logodds AS DOUBLE) AS logodds, posterior,
          pareto_draw,
          (pareto_draw > CAST(1 AS DOUBLE) - posterior) AS kept
        FROM ps ORDER BY doc_id""")),

    // --------------------------------------------------------------- q188
    // Incremental exact-substring ingest — the ExactSubstr member of the
    // incremental family (q100 minhash, q161 media): yesterday's corpus
    // persists its positional gram-hash index ONCE (8-byte hashes, no
    // text); today's batch computes its own grams and joins the LOADED
    // index — every maximal verbatim >=40-char span between batch and
    // history, exactly, without recomputing or even re-reading historical
    // text. Work is O(batch grams x occupancy); the oracle recomputes both
    // sides from raw text and runs the exhaustive cross-parity scan.
    QueryDef("q188_substr_ingest_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val store = graft.sources.TempStores.scratch(s, "graft_q188_substr_index")
        Dedup.exactSubstrGrams(docs.filter($"doc_id" % 2 === 0), minLen = 40)
          .write.mode("overwrite").parquet(store)
        val probe = Dedup.exactSubstrGrams(docs.filter($"doc_id" % 2 === 1),
          minLen = 40)
        Dedup.exactSubstrSpansAgainstIndex(s.read.parquet(store), probe,
            minLen = 40)
          .orderBy($"index_id", $"probe_id", $"start_i", $"start_p")
      },
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS index_id, b.doc_id AS probe_id, a.pos AS pos_i,
            a.pos - b.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram
            AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        r AS (
          SELECT index_id, probe_id, diag, pos_i,
            pos_i - row_number() OVER (
              PARTITION BY index_id, probe_id, diag ORDER BY pos_i) AS run_id
          FROM m)
        SELECT index_id, probe_id, min(pos_i) AS start_i,
          CAST(min(pos_i) - diag AS BIGINT) AS start_p,
          CAST(count(*) + 40 - 1 AS BIGINT) AS span_len
        FROM r GROUP BY index_id, probe_id, diag, run_id
        ORDER BY index_id, probe_id, start_i, start_p""")),

    // --------------------------------------------------------------- q189
    // Exact-substring spans from PLAIN SQL — the q168/q179 pattern for the
    // new family: the whole anchor + diagonal-run construction is a query
    // any JDBC/notebook client could type over documents_v (built-ins
    // only: sequence/explode/xxhash64/window), pinned against the SAME
    // DuckDB oracle as q184, proving the SQL path returns exactly what the
    // Scala operator returns (and plans the same shape — gram shuffle,
    // shared-hash prefilter, bounded per-pair window, no all-pairs).
    //
    // The gram frame AND the prefiltered candidate frame are shared temp
    // views under the span SQL (r13 verdict #2 + r15): Catalyst's
    // InlineCTE expands a deterministic CTE into every consumer, so the
    // 24-byte-per-character gram explode ran three times (1.6x), and an
    // un-materialized candidate CTE re-plans the shared-hash aggregate
    // into both pair-join sides (a second full gh shuffle of the gram
    // frame). Sharing each once mirrors `Dedup.exactSubstrSpansFromGrams`
    // exactly — the span construction itself stays pure SQL, and at
    // 100 TB a recompute of the corpus's every character is the
    // difference that matters.
    QueryDef("q189_sql_substr_spans",
      (s, dir) => Text.sqlSubstrSpans(s, dir)(identity),
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag, pos_a,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
          FROM m)
        SELECT doc_a, doc_b, min(pos_a) AS start_a,
          CAST(min(pos_a) - diag AS BIGINT) AS start_b,
          CAST(count(*) + 40 - 1 AS BIGINT) AS span_len
        FROM r GROUP BY doc_a, doc_b, diag, run_id
        ORDER BY doc_a, doc_b, start_a, start_b""")),

    // --------------------------------------------------------------- q190
    // Within-document self-repetition — the last ExactSubstr case
    // (boilerplate stutter / copy-paste loops INSIDE one doc, which
    // cross-doc dedup can never see and token-level repetitionStats only
    // rates): per doc, the count of maximal >=20-char internal repeated
    // spans and the longest one, zero-filled over the corpus. 73 repeats
    // across 72 docs at sf0.1 — real template stutter, found exactly.
    QueryDef("q190_self_repetition",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val spans = Dedup.selfRepeatSpans(docs, minLen = 20)
        docs.select($"doc_id")
          .join(spans.groupBy($"doc_id")
              .agg(count(lit(1)).as("n_self_repeats"),
                max($"span_len").as("max_repeat_len")),
            Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_self_repeats", lit(0L)).as("n_self_repeats"),
            coalesce($"max_repeat_len", lit(0L)).as("max_repeat_len"))
          .orderBy($"doc_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 20) AS gram
          FROM documents, unnest(range(1, length(text) - 20 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS id, a.pos AS pos_a, b.pos - a.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id = b.doc_id
            AND a.pos < b.pos),
        r AS (
          SELECT id, diag, pos_a,
            pos_a - row_number() OVER (
              PARTITION BY id, diag ORDER BY pos_a) AS run_id
          FROM m),
        spans AS (
          SELECT id, CAST(count(*) + 20 - 1 AS BIGINT) AS span_len
          FROM r GROUP BY id, diag, run_id),
        agg AS (
          SELECT id, CAST(count(*) AS BIGINT) AS n_self_repeats,
            max(span_len) AS max_repeat_len
          FROM spans GROUP BY id)
        SELECT d.doc_id,
          COALESCE(agg.n_self_repeats, 0) AS n_self_repeats,
          CAST(COALESCE(agg.max_repeat_len, 0) AS BIGINT) AS max_repeat_len
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.id
        ORDER BY d.doc_id""")),

    // --------------------------------------------------------------- q191
    // The exact-dedup curation funnel — the r13 operators composed the way
    // a FineWeb/Lee-et-al pipeline runs them, with KEEP-FIRST semantics:
    // a doc is dropped when >= 50% of its chars verbatim-appear in some
    // EARLIER doc (coverage over the doc_b side of the span frame only —
    // the smaller-id copy survives, so full-dup pairs keep exactly one
    // canonical), then self-repetitive docs (any >= 20-char internal
    // repeat) and sub-30-token stubs drop. Output: the stage ledger
    // (stage, n_docs) — the number a curation run reports per gate.
    QueryDef("q191_exact_curation_funnel",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val spans = Dedup.exactSubstrSpans(docs, minLen = 40)
        // coverage FROM EARLIER DOCS: only intervals where the doc is the
        // larger-id side (doc_a < doc_b by construction)
        val iv = spans.select($"doc_b".as("id"), $"start_b".as("s"),
            ($"start_b" + $"span_len").as("e")).distinct()
        val w = Window.partitionBy($"id").orderBy($"s", $"e")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cov = iv.withColumn("pm", max($"e").over(w))
          .withColumn("inc", greatest(lit(0L),
            $"e" - greatest($"s", coalesce($"pm", lit(0L)))))
          .groupBy($"id").agg(sum($"inc").as("covered"))
        // The whole ledger is ONE pass: each doc gets cumulative pass
        // flags (coverage gate; AND map-side internal-repeat test — r15,
        // Dedup.hasInternalRepeat: the r14 form shuffled the full 20-gram
        // frame through a grouped count + anti-join to answer a per-doc
        // boolean; AND token floor), and all four stage counts come from
        // one conditional aggregate. The r14 form unioned four per-stage
        // counts, re-executing the coverage join three times and the
        // repeat filter twice. Empty text = zero coverage = kept (0.0/0
        // is NaN, which would silently EXCLUDE here while the oracle's
        // CASE keeps) — mirror exactSubstrCoverage's otherwise(0.0)
        // branch on both engines.
        // Pathological-length defense (r15 advice): hasInternalRepeat
        // answers docs up to its inline cutoff (4M chars) as a map-side
        // projection and returns null past it; the rare giants come from
        // the broadcast overflow frame (empty on any real corpus — the
        // big side stays exchange-free) and Coalesce's short-circuit means
        // the inline hash array is never built for a row the overflow
        // side answered.
        val overflowRep = Dedup.internalRepeatOverflow(docs, minLen = 20)
          .withColumnRenamed("has_repeat", "rep_overflow")
        val flagged = docs.select($"doc_id", $"text",
            length($"text").cast("long").as("len"))
          .join(cov.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .join(broadcast(overflowRep), Seq("doc_id"), "left")
          .withColumn("pass_cov", when($"len" > 0,
              round(coalesce($"covered", lit(0L)).cast("double") / $"len", 6))
            .otherwise(0.0) < 0.5)
          .withColumn("pass_rep", $"pass_cov" &&
            !coalesce($"rep_overflow", Dedup.hasInternalRepeat($"text", 20)))
          .withColumn("pass_tok",
            $"pass_rep" && TextFunctions.tokenCount($"text") >= 30L)
        flagged.agg(count(lit(1)).as("n1"),
            count_if($"pass_cov").as("n2"),
            count_if($"pass_rep").as("n3"),
            count_if($"pass_tok").as("n4"))
          .select(explode(array(
            struct(lit(1L).as("stage_id"), lit("corpus").as("stage"),
              $"n1".as("n_docs")),
            struct(lit(2L).as("stage_id"), lit("dedup_vs_earlier").as("stage"),
              $"n2".as("n_docs")),
            struct(lit(3L).as("stage_id"), lit("no_self_repetition").as("stage"),
              $"n3".as("n_docs")),
            struct(lit(4L).as("stage_id"), lit("min_30_tokens").as("stage"),
              $"n4".as("n_docs")))).as("s"))
          .select($"s.stage_id", $"s.stage", $"s.n_docs")
          .orderBy($"stage_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 40) AS gram
          FROM documents, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        m AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
            a.pos - b.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        r AS (
          SELECT doc_a, doc_b, diag, pos_a,
            pos_a - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
          FROM m),
        spans AS (
          SELECT doc_a, doc_b, min(pos_a) AS start_a,
            CAST(min(pos_a) - diag AS BIGINT) AS start_b,
            CAST(count(*) + 40 - 1 AS BIGINT) AS span_len
          FROM r GROUP BY doc_a, doc_b, diag, run_id),
        iv AS (
          SELECT doc_b AS id, start_b AS s, start_b + span_len AS e
          FROM spans GROUP BY 1, 2, 3),
        w2 AS (
          SELECT id, s, e, max(e) OVER (PARTITION BY id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        cov AS (
          SELECT id, sum(CASE WHEN e > greatest(s, COALESCE(pm, 0))
            THEN e - greatest(s, COALESCE(pm, 0)) ELSE 0 END) AS covered
          FROM w2 GROUP BY 1),
        s2 AS (
          SELECT d.doc_id, d.text FROM documents d
          LEFT JOIN cov ON d.doc_id = cov.id
          WHERE CASE WHEN length(d.text) > 0
            THEN round(CAST(COALESCE(cov.covered, 0) AS DOUBLE)
              / length(d.text), 6)
            ELSE 0.0 END < 0.5),
        sg AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos,
            substr(text, CAST(pos AS INT), 20) AS gram
          FROM documents, unnest(range(1, length(text) - 20 + 2)) AS t(pos)),
        sm AS (
          SELECT DISTINCT doc_id AS id FROM (
            SELECT doc_id, gram FROM sg
            GROUP BY doc_id, gram HAVING count(*) > 1)),
        s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT id FROM sm)),
        s4 AS (SELECT * FROM s3
          WHERE len(string_split_regex(trim(text), '\s+')) >= 30)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS stage_id, 'corpus' AS stage,
            count(*) AS n_docs FROM documents
          UNION ALL
          SELECT 2, 'dedup_vs_earlier', count(*) FROM s2
          UNION ALL
          SELECT 3, 'no_self_repetition', count(*) FROM s3
          UNION ALL
          SELECT 4, 'min_30_tokens', count(*) FROM s4)
        ORDER BY stage_id""")),

    // --------------------------------------------------------------- q192
    // Vocabulary-growth telemetry (Heaps-law curve) — the number a
    // tokenizer-sizing pass watches: cumulative distinct vocabulary as the
    // corpus grows, by ingest decile. One tokenize feeds everything; each
    // term aggregates to its FIRST decile (vocabulary-keyed, map-side
    // combined), so the cumulative curve is a 10-row running sum, never a
    // per-prefix distinct-count rescan. All-integer output.
    QueryDef("q192_vocab_growth",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val n = docs.agg(count(lit(1)).as("n"))
        val toks = docs
          .select($"doc_id", explode(TextFunctions.tokens($"text")).as("term"))
          .filter(length($"term") > 0)
          .crossJoin(broadcast(n))
          .withColumn("decile", expr("(doc_id * 10) div n") + lit(1L))
        val perB = toks.groupBy($"decile").agg(count(lit(1)).as("n_tokens"))
        val newT = toks.groupBy($"term").agg(min($"decile").as("decile"))
          .groupBy($"decile").agg(count(lit(1)).as("new_terms"))
        val nd = docs.crossJoin(broadcast(n))
          .withColumn("decile", expr("(doc_id * 10) div n") + lit(1L))
          .groupBy($"decile").agg(count(lit(1)).as("n_docs"))
        val w = Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        nd.join(perB, Seq("decile"), "left").join(newT, Seq("decile"), "left")
          .select($"decile", $"n_docs",
            coalesce($"n_tokens", lit(0L)).as("n_tokens"),
            coalesce($"new_terms", lit(0L)).as("new_terms"))
          .withColumn("cum_terms", sum($"new_terms").over(w))
          .orderBy($"decile")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM documents),
        tk AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(trim(text), '\s+'),
            x -> length(x) > 0)) AS term
          FROM documents),
        td AS (
          SELECT (doc_id * 10) // (SELECT n FROM n) + 1 AS decile, term
          FROM tk),
        nd AS (
          SELECT (doc_id * 10) // (SELECT n FROM n) + 1 AS decile,
            count(*) AS n_docs
          FROM documents GROUP BY 1),
        perb AS (SELECT decile, count(*) AS n_tokens FROM td GROUP BY 1),
        newt AS (
          SELECT decile, count(*) AS new_terms FROM (
            SELECT term, min(decile) AS decile FROM td GROUP BY term)
          GROUP BY 1)
        SELECT nd.decile, nd.n_docs,
          CAST(COALESCE(perb.n_tokens, 0) AS BIGINT) AS n_tokens,
          CAST(COALESCE(newt.new_terms, 0) AS BIGINT) AS new_terms,
          CAST(sum(COALESCE(newt.new_terms, 0))
            OVER (ORDER BY nd.decile) AS BIGINT) AS cum_terms
        FROM nd LEFT JOIN perb USING (decile) LEFT JOIN newt USING (decile)
        ORDER BY nd.decile""")))
}

/** Wide-to-long reshaping (unpivot/melt) — the inverse of q130's pivot and
  * the other half of the reshape surface. Lives beside the Text module's
  * pivot for discoverability; operates on lineitem's measure columns. */
object Reshape extends QueryModule {
  def defs: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q132
    // Unpivot lineitem's four measures into (measure, value) rows, then
    // profile each measure in one aggregation — the normalized form every
    // metrics store ingests. Spark's unpivot is a MAP-SIDE 4x row fan-out
    // (an Expand node, no shuffle) feeding a 4-group partial aggregate, so
    // the wire carries 4 combined rows per partition regardless of input
    // size. Sums accumulate as exact DECIMAL before the single double
    // conversion, so the engines agree bit-for-bit.
    QueryDef("q132_measure_unpivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
            $"l_discount", $"l_tax")
          .unpivot(
            ids = Array($"l_orderkey"),
            values = Array($"l_quantity", $"l_extendedprice",
              $"l_discount", $"l_tax"),
            variableColumnName = "measure",
            valueColumnName = "value")
          .groupBy($"measure")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(30,6)")).cast("decimal(38,6)")
              .cast("double").as("total"),
            round(min($"value"), 6).as("min_v"),
            round(max($"value"), 6).as("max_v"))
          .orderBy($"measure")
      },
      Some("""WITH m AS (
          SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL
          SELECT 'l_tax', l_tax FROM lineitem)
        SELECT measure, count(*) AS n,
          CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DECIMAL(38,6))
            AS DOUBLE) AS total,
          round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
        FROM m GROUP BY measure ORDER BY measure""")),

    // --------------------------------------------------------------- q195
    // The ExactSubstr `maxBucket` lever under load (r13 verdict #5 — the
    // knob a 100 TB run actually needs, exercised nowhere at default 0):
    // a boilerplate-heavy corpus is SYNTHESIZED by prepending one shared
    // 98-char license block to every third document, putting ~60 gram
    // buckets at occupancy n/3 — the degenerate shape (identical
    // boilerplate across millions of docs) whose pair join would
    // otherwise go locally O(m²). With a finite cap the query pins, at
    // both SFs:
    //   dropped_gram_rows / capped_buckets — the operator's LOGGED drop
    //     ledger, recomputed independently by DuckDB from gram STRINGS
    //     (occupancy among >=2-doc grams; real numbers, not constants);
    //   exactness_violations = 0 — the recall-only contract: capping may
    //     LOSE spans, but every span still reported must be verbatim-equal
    //     in both documents (verified by substring comparison, so a hash
    //     collision or offset bug would surface here);
    //   boilerplate_recall = true — the cap didn't nuke recall: the kept
    //     cap-many docs still report spans containing the license block.
    QueryDef("q195_capped_substr_spans",
      (s, dir) => {
        import s.implicits._
        val cap = 24
        val bp = Text.BoilerplateBlock
        val docs = t(s, dir, "documents")
        val synth = docs.select($"doc_id",
          when($"doc_id" % 3 === 0, concat(lit(bp), lit(" "), $"text"))
            .otherwise($"text").as("text"))
        // ONE gram explode serves both consumers (the q189 lesson): the
        // shared frame feeds the operator's span construction AND the
        // independent drop-ledger audit — recomputed exactly as bucketPairs
        // accounts it (occupancy of each >=2-distinct-doc gram), with the
        // oracle recomputing it a third way from gram STRINGS.
        val grams = Dedup.exactSubstrGrams(Layout.spread(synth, $"doc_id"), minLen = 40)
        Materialize.shared(grams) {
          val ledger = grams.groupBy($"gh")
            .agg(min($"id").as("mn"), max($"id").as("mx"),
              count(lit(1)).as("occ"))
            .filter($"mn" =!= $"mx")
            .agg(
              coalesce(sum(when($"occ" > cap, $"occ" - cap)), lit(0L))
                .as("dropped_gram_rows"),
              count_if($"occ" > cap).as("capped_buckets"))
          val spans =
            Dedup.exactSubstrSpansFromGrams(grams, minLen = 40, maxBucket = cap)
          val checked = spans
            .join(synth.select($"doc_id".as("doc_a"), $"text".as("ta")), "doc_a")
            .join(synth.select($"doc_id".as("doc_b"), $"text".as("tb")), "doc_b")
            .select(
              expr("substring(ta, CAST(start_a AS INT), CAST(span_len AS INT))")
                .as("sa"),
              expr("substring(tb, CAST(start_b AS INT), CAST(span_len AS INT))")
                .as("sb"))
            .agg(count_if($"sa" =!= $"sb").as("exactness_violations"),
              (count_if($"sa".contains(bp)) > 0L).as("boilerplate_recall"))
          ledger.crossJoin(checked)
        }
      },
      Some("""WITH synth AS (
          SELECT doc_id, CASE WHEN doc_id % 3 = 0
            THEN 'GRAFT STANDARD LICENSE HEADER DO NOT REMOVE THIS BLOCK IS IDENTICAL ACROSS EVERY EXPORTED DOCUMENT ' || text
            ELSE text END AS text
          FROM documents),
        g AS (
          SELECT doc_id, substr(text, CAST(pos AS INT), 40) AS gram
          FROM synth, unnest(range(1, length(text) - 40 + 2)) AS t(pos)),
        sh AS (
          SELECT gram, count(*) AS occ FROM g
          GROUP BY gram HAVING min(doc_id) <> max(doc_id))
        SELECT
          CAST(COALESCE(sum(CASE WHEN occ > 24 THEN occ - 24 END), 0)
            AS BIGINT) AS dropped_gram_rows,
          CAST(count(*) FILTER (WHERE occ > 24) AS BIGINT) AS capped_buckets,
          CAST(0 AS BIGINT) AS exactness_violations,
          true AS boilerplate_recall
        FROM sh""")),

    // --------------------------------------------------------------- q196
    // q195's `maxBucket` lever on the INCREMENTAL path (r14 verdict #6):
    // the same boilerplate-degenerate shape arriving at INGEST time, where
    // [[Dedup.exactSubstrSpansAgainstIndex]] joins a probe batch against a
    // persisted gram index — an uncapped degenerate gram makes that join
    // locally quadratic in exactly the way q195 pins for the batch
    // self-join. Corpus split: even doc_ids are the historical index, odd
    // the incoming batch; every third doc carries the license block, so
    // the index holds boilerplate docs (id % 6 == 0) at per-gram occupancy
    // ~n/6 >> cap and the probe brings more (id % 6 == 3). Pins, both SFs:
    //   dropped_index_rows / capped_buckets — the index-side cap's drop
    //     ledger (bucketPairs caps EVERY index gh bucket — no >=2-doc
    //     prefilter on this path), recomputed by DuckDB from gram STRINGS;
    //   exactness_violations = 0 — every reported span verbatim-equal
    //     between index and probe text (recall-only contract);
    //   boilerplate_recall = true — kept index docs still pair with the
    //     probe's boilerplate docs across the cap.
    QueryDef("q196_capped_index_spans",
      (s, dir) => {
        import s.implicits._
        val cap = 24
        val bp = Text.BoilerplateBlock
        val docs = t(s, dir, "documents")
        val synth = docs.select($"doc_id",
          when($"doc_id" % 3 === 0, concat(lit(bp), lit(" "), $"text"))
            .otherwise($"text").as("text"))
        val ixDocs = synth.filter($"doc_id" % 2 === 0)
        val pbDocs = synth.filter($"doc_id" % 2 =!= 0)
        // ONE index-side gram explode serves the ledger audit, the cap's
        // occupancy pass, and the join (q189/q195 lifecycle)
        val ixGrams = Dedup.exactSubstrGrams(Layout.spread(ixDocs, $"doc_id"), minLen = 40)
        Materialize.shared(ixGrams) {
          val ledger = ixGrams.groupBy($"gh")
            .agg(count(lit(1)).as("occ"))
            .agg(
              coalesce(sum(when($"occ" > cap, $"occ" - cap)), lit(0L))
                .as("dropped_index_rows"),
              count_if($"occ" > cap).as("capped_buckets"))
          val spans = Dedup.exactSubstrSpansAgainstIndex(
              ixGrams, Dedup.exactSubstrGrams(Layout.spread(pbDocs, $"doc_id"), minLen = 40),
              minLen = 40, maxBucket = cap)
          val checked = spans
            .join(synth.select($"doc_id".as("index_id"), $"text".as("ti")),
              "index_id")
            .join(synth.select($"doc_id".as("probe_id"), $"text".as("tp")),
              "probe_id")
            .select(
              expr("substring(ti, CAST(start_i AS INT), CAST(span_len AS INT))")
                .as("si"),
              expr("substring(tp, CAST(start_p AS INT), CAST(span_len AS INT))")
                .as("sp"))
            .agg(count_if($"si" =!= $"sp").as("exactness_violations"),
              (count_if($"si".contains(bp)) > 0L).as("boilerplate_recall"))
          ledger.crossJoin(checked)
        }
      },
      Some("""WITH synth AS (
          SELECT doc_id, CASE WHEN doc_id % 3 = 0
            THEN 'GRAFT STANDARD LICENSE HEADER DO NOT REMOVE THIS BLOCK IS IDENTICAL ACROSS EVERY EXPORTED DOCUMENT ' || text
            ELSE text END AS text
          FROM documents),
        g AS (
          SELECT doc_id, substr(text, CAST(pos AS INT), 40) AS gram
          FROM synth, unnest(range(1, length(text) - 40 + 2)) AS t(pos)
          WHERE doc_id % 2 = 0),
        occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY gram)
        SELECT
          CAST(COALESCE(sum(CASE WHEN occ > 24 THEN occ - 24 END), 0)
            AS BIGINT) AS dropped_index_rows,
          CAST(count(*) FILTER (WHERE occ > 24) AS BIGINT) AS capped_buckets,
          CAST(0 AS BIGINT) AS exactness_violations,
          true AS boilerplate_recall
        FROM occ""")))
}
