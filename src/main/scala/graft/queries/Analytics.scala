package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{CorpusStats, Dedup, EntityResolution, Graph, IntervalJoin, Retrieval, Sampling}

/** Round-10 analytics surface: lexical retrieval (BM25), edit-distance
  * entity resolution, exact-quota stratified sampling, CUBE reporting,
  * cross-document duplicate-span coverage, and iterative graph centrality
  * (fixed-point PageRank). Every query keeps the module determinism
  * contract: total ORDER BY, identical aliases both sides, and either
  * integer/fixed-point arithmetic or a shared rounding grid wherever IEEE
  * summation order could diverge between engines.
  */
object Analytics extends QueryModule {

  // DuckDB fragments mirroring TextFunctions.tokens / wordShingles(_, 8)
  // (same conventions as queries.Text's private helpers).
  private val wsSql = """string_split_regex(trim(text), '\s+')"""
  private val shingles3Sql =
    s"""CASE WHEN len($wsSql) < 3 THEN CAST([] AS VARCHAR[])
        ELSE list_distinct(list_transform(range(1, len($wsSql) - 1),
          i -> $wsSql[i] || ' ' || $wsSql[i+1] || ' ' || $wsSql[i+2])) END"""
  private val grams8Sql =
    s"""CASE WHEN len($wsSql) < 8 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(1, len($wsSql) - 6),
          i -> $wsSql[i] || ' ' || $wsSql[i+1] || ' ' || $wsSql[i+2] || ' ' ||
               $wsSql[i+3] || ' ' || $wsSql[i+4] || ' ' || $wsSql[i+5] || ' ' ||
               $wsSql[i+6] || ' ' || $wsSql[i+7]) END"""

  /** q138's iteration count; the oracle SQL unrolls this many CTEs, so the
    * constant is shared eagerly at object init (same pattern as Text's
    * chunk geometry). */
  private val PrIters = 10

  // The PageRank oracle: DuckDB has no distributed loop, so the power
  // iteration unrolls as a WITH chain it0..itN — legal, bounded, and
  // bit-exact against the Spark loop because BOTH sides do only integer
  // multiply / floor-divide / sum per round (see Graph.pageRankFixedPoint's
  // determinism note). `pr` not `rank` inside: rank is a window keyword.
  private val pageRankOracle: String = {
    val head = s"""WITH o AS (SELECT user_id, event_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS next_type FROM events),
        e AS (SELECT event_type AS src, next_type AS dst, count(*) AS cnt
          FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        outd AS (SELECT src, sum(cnt) AS out_total FROM e GROUP BY 1),
        eo AS (SELECT e.src, e.dst, e.cnt, outd.out_total
          FROM e JOIN outd USING (src)),
        nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst AS node FROM e),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    val loop = (1 to PrIters).map { i =>
      s""", it$i AS (SELECT n.node,
            CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
          FROM nodes n LEFT JOIN (
            SELECT eo.dst AS node, SUM((r.pr * eo.cnt) // eo.out_total) AS s
            FROM it${i - 1} r JOIN eo ON r.node = eo.src
            GROUP BY eo.dst) c USING (node))"""
    }.mkString
    head + loop +
      s"""
        SELECT node AS event_type, pr AS rank_micro FROM it$PrIters
        ORDER BY rank_micro DESC, event_type"""
  }

  private val KCoreRounds = 16
  private val KCoreK = 4

  /** q177's synchronous round count — shared with the unrolled oracle. */
  private val LpaRounds = 4

  // The label-propagation oracle: the same co-engagement edge derivation
  // as the triangle/k-core oracles, then LpaRounds synchronous rounds
  // unrolled as a CTE chain (each round: per-(node, neighbor-label) count,
  // top-1 by (count desc, label asc)). `sym` is referenced once per round
  // -> MATERIALIZED, or DuckDB's inlining re-derives the edge list every
  // round; the l_i are materialized too so the chain stays linear.
  private val labelPropagationOracle: String = {
    val head = s"""WITH uk AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS k,
            count(*) AS cnt FROM events GROUP BY 1, 2),
        t5 AS (SELECT user_id, k FROM (
            SELECT user_id, k, row_number() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, k) AS rn FROM uk) WHERE rn <= 5),
        e AS (SELECT a.user_id AS u, b.user_id AS v FROM t5 a
          JOIN t5 b ON a.k = b.k AND a.user_id < b.user_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sym AS MATERIALIZED (SELECT u AS node, v AS nb FROM e
          UNION ALL SELECT v AS node, u AS nb FROM e),
        l0 AS (SELECT DISTINCT node, node AS label FROM sym)"""
    val loop = (1 to LpaRounds).map { i =>
      s""", l$i AS MATERIALIZED (SELECT node, label FROM (
            SELECT s.node, l.label, count(*) AS c,
              row_number() OVER (PARTITION BY s.node
                ORDER BY count(*) DESC, l.label) AS rn
            FROM sym s JOIN l${i - 1} l ON l.node = s.nb
            GROUP BY s.node, l.label)
          WHERE rn = 1)"""
    }.mkString
    head + loop +
      s""",
        lab AS (SELECT d.user_id, COALESCE(l.label, d.user_id) AS community
          FROM (SELECT DISTINCT user_id FROM events) d
          LEFT JOIN l$LpaRounds l ON l.node = d.user_id),
        sz AS (SELECT community, count(*) AS community_size FROM lab GROUP BY 1)
        SELECT user_id, community,
          CAST(community_size AS BIGINT) AS community_size
        FROM lab JOIN sz USING (community) ORDER BY user_id"""
  }

  // Shared by q163 (Scala-authored) and q168 (SQL-authored via the
  // graft_user_triangles view): the naive canonical 3-way triangle
  // enumeration over the co-engagement graph, total over users.
  private val triangleOracle: String =
    """WITH uk AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS k,
            count(*) AS cnt FROM events GROUP BY 1, 2),
        t5 AS (SELECT user_id, k FROM (
            SELECT user_id, k, row_number() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, k) AS rn FROM uk) WHERE rn <= 5),
        e AS (SELECT a.user_id AS u, b.user_id AS v FROM t5 a
          JOIN t5 b ON a.k = b.k AND a.user_id < b.user_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1 JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        pern AS (SELECT n, count(*) AS triangles FROM (
            SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY 1),
        deg AS (SELECT n, count(*) AS degree FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
        SELECT u.user_id,
          CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
          CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
          round(CASE WHEN COALESCE(d.degree, 0) >= 2
            THEN 2.0 * COALESCE(p.triangles, 0) / (d.degree * (d.degree - 1))
            ELSE 0.0 END, 6) AS clustering
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN deg d ON d.n = u.user_id
        LEFT JOIN pern p ON p.n = u.user_id
        ORDER BY user_id"""

  // The k-core oracle: peeling unrolls as a WITH chain e0..eN (same
  // unrolled-loop technique as the PageRank oracle). Every round is
  // integer degree counting + membership filters, so the chain is
  // bit-exact against the Spark loop; post-fixpoint rounds are no-ops,
  // which is what lets the Spark side early-exit.
  private val kCoreOracle: String = {
    val head = s"""WITH uk AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS k,
            count(*) AS cnt FROM events GROUP BY 1, 2),
        t5 AS (SELECT user_id, k FROM (
            SELECT user_id, k, row_number() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, k) AS rn FROM uk) WHERE rn <= 5),
        e0 AS (SELECT a.user_id AS u, b.user_id AS v FROM t5 a
          JOIN t5 b ON a.k = b.k AND a.user_id < b.user_id
          GROUP BY 1, 2 HAVING count(*) >= 2)"""
    // Every round references its predecessor e-CTE three times (degree
    // count + two membership probes); without MATERIALIZED, DuckDB's CTE
    // inlining would expand the chain EXPONENTIALLY (2^16 base scans —
    // observed as a too-many-open-files explosion). Materializing each
    // round keeps the oracle linear in rounds, like the Spark loop's
    // per-round frontier checkpoint.
    val loop = (1 to KCoreRounds).map { i =>
      s""", keep${i - 1} AS MATERIALIZED (SELECT n FROM (
            SELECT n, count(*) AS d FROM (
              SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
            GROUP BY 1) WHERE d >= $KCoreK),
          e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
            WHERE u IN (SELECT n FROM keep${i - 1})
              AND v IN (SELECT n FROM keep${i - 1}))"""
    }.mkString
    head + loop +
      s"""
        , core AS (SELECT n AS user_id, count(*) AS core_degree FROM (
            SELECT u AS n FROM e$KCoreRounds
            UNION ALL SELECT v FROM e$KCoreRounds) GROUP BY 1)
        SELECT u.user_id, (c.core_degree IS NOT NULL) AS in_core,
          CAST(COALESCE(c.core_degree, 0) AS BIGINT) AS core_degree
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN core c USING (user_id)
        ORDER BY user_id"""
  }

  def defs: Seq[QueryDef] = Seq(

    // --------------------------------------------------------------- q133
    // Okapi BM25 search: top-10 documents for each of the 10 highest-df
    // terms (the longest posting lists — the worst-case serving workload).
    // One tokenize feeds tf; df and doc length re-aggregate it; corpus
    // constants broadcast; ranking is per-term bounded top-k (the engine
    // rewrites the rank filter to TopKPerKey — k rows per partition cross
    // the wire). Ranking orders by the ROUNDED score so the 6-dp grid, not
    // libm's last ulp, decides ties.
    QueryDef("q133_bm25_topk",
      (s, dir) => {
        import s.implicits._
        // no spread: the extra (id, text) exchange regressed q133 2.0x at
        // sf0.1, ties standalone at sf0.01 and adds task time (PROFILING.md,
        // "Table resolution: one schema inference per file version")
        Retrieval.bm25TopK(t(s, dir, "documents"), nQueryTerms = 10, topK = 10)
          .orderBy($"term", $"rank")
      },
      Some("""WITH tok AS (SELECT doc_id,
            unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
            WHERE len(term) > 0 GROUP BY 1, 2),
          dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
          dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
            (SELECT sum(dl) FROM dl) AS sum_dl),
          qt AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT 10),
          scored AS (SELECT tf.term, tf.doc_id, tf.tf,
            round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5))
              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
                  (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
              6) AS score
            FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
            CROSS JOIN consts)
        SELECT term, CAST(rn AS BIGINT) AS rank, doc_id,
          CAST(tf AS BIGINT) AS tf, score
        FROM (SELECT *, row_number() OVER (PARTITION BY term
                ORDER BY score DESC, doc_id) AS rn FROM scored)
        WHERE rn <= 10 ORDER BY term, rank""")),

    // --------------------------------------------------------------- q134
    // Edit-distance near-duplicate pairs on the fixed-width normalized
    // text head: positional-segment blocking (pigeonhole-sound for
    // substitution noise) then one levenshtein per distinct candidate —
    // the entity-resolution pipeline shape; posting lists per segment
    // value bound the join, never all-pairs.
    QueryDef("q134_fuzzy_pairs",
      (s, dir) => {
        import s.implicits._
        EntityResolution.segmentBlockedFuzzyPairs(
            t(s, dir, "documents"), keyLen = 40, segments = 5, maxEdit = 4)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH k AS (SELECT doc_id,
            rpad(substr(trim(text), 1, 40), 40, '#') AS key FROM documents),
          seg AS (SELECT doc_id, key, CAST(i AS INT) AS seg_idx,
            substr(key, CAST((i - 1) * 8 + 1 AS INT), 8) AS seg
            FROM k, range(1, 6) t(i)),
          c AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.key AS key_a, b.key AS key_b
            FROM seg a JOIN seg b ON a.seg_idx = b.seg_idx
              AND a.seg = b.seg AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          CAST(levenshtein(key_a, key_b) AS BIGINT) AS edit_dist
        FROM c WHERE levenshtein(key_a, key_b) <= 4
        ORDER BY id_a, id_b""")),

    // --------------------------------------------------------------- q135
    // CUBE corpus accounting: every (source, lang) grouping combination in
    // one pass — rollup (q124) covers the hierarchy; cube adds the
    // lang-only marginals a mixture designer reads. Same grouping-marker
    // and '(all)' sentinel conventions as q124.
    QueryDef("q135_cube_report",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .cube($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
            grouping($"source").cast("long").as("g_source"),
            grouping($"lang").cast("long").as("g_lang"))
          .select(coalesce($"source", lit("(all)")).as("source"),
            coalesce($"lang", lit("(all)")).as("lang"),
            $"g_source", $"g_lang", $"n_docs", $"chars")
          .orderBy($"g_source", $"g_lang", $"source", $"lang")
      },
      Some("""SELECT COALESCE(source, '(all)') AS source,
          COALESCE(lang, '(all)') AS lang,
          CAST(grouping(source) AS BIGINT) AS g_source,
          CAST(grouping(lang) AS BIGINT) AS g_lang,
          count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY CUBE(source, lang)
        ORDER BY g_source, g_lang, source, lang""")),

    // --------------------------------------------------------------- q136
    // Exact-quota stratified sample: EXACTLY ceil(n/5) docs per source, in
    // salted-hash order — integer quota arithmetic, so no float boundary
    // can make the engines disagree by one row (contrast q67's fixed cap
    // and the threshold-hash expected-fraction sampler).
    QueryDef("q136_stratified_sample",
      (s, dir) => {
        import s.implicits._
        Sampling.exactStratifiedSample(
            t(s, dir, "documents"), num = 1, den = 5, stratumCol = "source")
          .select($"doc_id", $"source")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source FROM (
          SELECT doc_id, source,
            row_number() OVER (PARTITION BY source ORDER BY
              substr(md5('graft-strat' || CAST(doc_id AS VARCHAR)), 1, 8),
              doc_id) AS rn,
            count(*) OVER (PARTITION BY source) AS n
          FROM documents)
        WHERE rn * 5 <= n * 1 + 4 ORDER BY doc_id""")),

    // --------------------------------------------------------------- q137
    // Cross-document duplicate-span coverage: per doc, the fraction of its
    // 8-token windows that appear verbatim in >= 2 documents — the
    // exact-substring-dedup statistic (Lee et al. 2022) that catches
    // templated/boilerplate overlap whole-doc fingerprints miss. One
    // shingle explode; gram doc-frequency re-aggregates the partials.
    QueryDef("q137_dup_span_coverage",
      (s, dir) => {
        import s.implicits._
        CorpusStats.dupSpanCoverage(t(s, dir, "documents"), n = 8)
          .orderBy($"doc_id")
      },
      Some(s"""WITH g AS (SELECT doc_id, unnest($grams8Sql) AS gram
            FROM documents),
          occ AS (SELECT doc_id, gram, count(*) AS occ FROM g GROUP BY 1, 2),
          gd AS (SELECT gram, count(*) AS gram_docs FROM occ GROUP BY 1),
          pd AS (SELECT doc_id, sum(occ) AS n_spans,
            sum(CASE WHEN gram_docs >= 2 THEN occ ELSE 0 END) AS n_dup_spans
            FROM occ JOIN gd USING (gram) GROUP BY 1)
        SELECT d.doc_id,
          CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
          CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
          round(CASE WHEN COALESCE(n_spans, 0) > 0
            THEN CAST(n_dup_spans AS DOUBLE) / n_spans ELSE 0.0 END, 6)
            AS dup_span_frac
        FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""")),

    // --------------------------------------------------------------- q138
    // Event-flow centrality: fixed-point PageRank over the user-session
    // transition graph (q122's edges). Each Spark iteration is one
    // node-keyed join + aggregate; the oracle unrolls the same integer
    // recurrence as a CTE chain, and fixed-point arithmetic makes the two
    // bit-equal at any parallelism (see Graph.pageRankFixedPoint).
    QueryDef("q138_event_pagerank",
      (s, dir) => {
        import s.implicits._
        val edges = Graph.eventTransitionEdges(t(s, dir, "events"))
        Graph.pageRankFixedPoint(edges, iters = PrIters)
          .select($"node".as("event_type"), $"rank".as("rank_micro"))
          .orderBy(desc("rank_micro"), $"event_type")
      },
      Some(pageRankOracle)),

    // --------------------------------------------------------------- q163
    // Triangle counting / clustering coefficient over the user
    // co-engagement graph (users sharing >= 2 of their top-5 props.k
    // values), via DEGREE-ORDERED orientation — the Suri-Vassilvitskii
    // sub-quadratic shape: each node's out-degree is O(sqrt(m)) after
    // orientation, wedges enumerate as out-neighbor pairs (a skewed hub
    // generates ZERO wedges — its edges all point in), and one hash join
    // closes them. The oracle builds the same graph and enumerates
    // triangles with the naive canonical 3-way join (a < b < c), which is
    // exactly what the distributed plan must reproduce. Top-5 selection
    // ties break (cnt desc, k asc) identically both sides; the output is
    // total over users (left join, zero-filled) so small SFs with sparse
    // graphs stay well-formed.
    QueryDef("q163_triangle_count",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val tc = Graph.triangleCounts(Graph.coEngagementEdges(ev))
        ev.select($"user_id").distinct()
          .join(tc.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
          .select($"user_id",
            coalesce($"degree", lit(0L)).as("degree"),
            coalesce($"triangles", lit(0L)).as("triangles"),
            coalesce($"clustering", lit(0.0)).as("clustering"))
          .orderBy($"user_id")
      },
      Some(triangleOracle)),

    // --------------------------------------------------------------- q168
    // The graph surface from PLAIN SQL: one registration call exposes the
    // per-user triangle/clustering frame as a view, and the query text is
    // a SELECT any JDBC/notebook client could type — same oracle as q163,
    // proving the SQL path returns exactly what the Scala API returns.
    QueryDef("q168_sql_triangles",
      (s, dir) => {
        graft.GraftSql.registerTriangleView(s, dir)
        s.sql("""SELECT user_id, degree, triangles, clustering
          FROM graft_user_triangles ORDER BY user_id""")
      },
      Some(triangleOracle)),

    // --------------------------------------------------------------- q166
    // k-core decomposition (k=4) of the co-engagement graph by iterative
    // peeling — the graph-quality gate that isolates the densely-connected
    // cohort (spam rings, power-user cores) from tendrils. The Spark loop
    // peels to the FIXED POINT with one degree aggregation + two
    // semi-joins per round and a single count per round for the early
    // exit; the oracle unrolls exactly 16 peeling rounds as a CTE chain.
    // Peeling is monotone, so the early-exited fixed point equals the
    // 16-round unroll whenever convergence lands within 16 (measured: 10
    // rounds at sf0.01, 2 at sf0.1; post-fixpoint rounds are no-ops, so
    // extra unrolled rounds never diverge). Output total over users,
    // zero-filled.
    QueryDef("q166_kcore",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        // strict = false: THIS query's contract is the 16-round peel the
        // oracle unrolls, so a budget exit must return the same partial
        // peel the CTE chain computes, not throw (library callers get the
        // strict default; the operator logs the truncation here).
        val core = Graph.kCore(Graph.coEngagementEdges(ev), k = 4,
          maxRounds = KCoreRounds, strict = false)
        ev.select($"user_id").distinct()
          .join(core.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
          .select($"user_id",
            $"core_degree".isNotNull.as("in_core"),
            coalesce($"core_degree", lit(0L)).as("core_degree"))
          .orderBy($"user_id")
      },
      Some(kCoreOracle)),

    // --------------------------------------------------------------- q167
    // Adamic-Adar link prediction: per user, the best NEW connection by
    // hub-discounted common-neighbor score (Σ 1/ln(deg z) over shared
    // neighbors z). Wedges enumerate per apex with the >128-degree hub cap
    // (contractual, both sides — a hub's wedge count is quadratic while
    // its per-wedge weight is near-zero); per-wedge weights round to 6 dp
    // BEFORE the exact DECIMAL sum, so scores are order-free and
    // engine-identical; existing links anti-join away. Output total over
    // users: (-1, 0, 0.0) sentinels for users with no prediction, so
    // sparse small-SF graphs stay well-formed.
    QueryDef("q167_link_prediction",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val aa = Graph.adamicAdar(Graph.coEngagementEdges(ev))
        val best = aa.withColumn("rn", row_number().over(
            Window.partitionBy($"src").orderBy($"aa_score".desc, $"cand")))
          .filter($"rn" === 1)
        ev.select($"user_id".cast("long").as("user_id")).distinct()
          .join(best.select($"src".cast("long").as("user_id"),
              $"cand".cast("long").as("suggested_id"),
              $"common_neighbors", $"aa_score"),
            Seq("user_id"), "left")
          .select($"user_id",
            coalesce($"suggested_id", lit(-1L)).as("suggested_id"),
            coalesce($"common_neighbors", lit(0L)).as("common_neighbors"),
            coalesce($"aa_score", lit(0.0)).as("aa_score"))
          .orderBy($"user_id")
      },
      Some("""WITH uk AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS k,
            count(*) AS cnt FROM events GROUP BY 1, 2),
        t5 AS (SELECT user_id, k FROM (
            SELECT user_id, k, row_number() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, k) AS rn FROM uk) WHERE rn <= 5),
        e AS (SELECT a.user_id AS u, b.user_id AS v FROM t5 a
          JOIN t5 b ON a.k = b.k AND a.user_id < b.user_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sym AS (SELECT u AS node, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT node, count(*) AS d FROM sym GROUP BY 1),
        capped AS (SELECT s.node, s.nb,
            round(1.0 / ln(CAST(d.d AS DOUBLE)), 6) AS w
          FROM sym s JOIN deg d
          ON d.node = s.node AND d.d >= 2 AND d.d <= 128),
        wedge AS (SELECT a.nb AS src, b.nb AS cand, a.w
          FROM capped a JOIN capped b
          ON a.node = b.node AND a.nb <> b.nb),
        cands AS (SELECT w.src, w.cand, count(*) AS common_neighbors,
            CAST(sum(CAST(w.w AS DECIMAL(28,6))) AS DOUBLE) AS aa_score
          FROM wedge w
          WHERE NOT EXISTS (SELECT 1 FROM sym s
            WHERE s.node = w.src AND s.nb = w.cand)
          GROUP BY 1, 2),
        best AS (SELECT src, cand, common_neighbors, aa_score,
            row_number() OVER (PARTITION BY src
              ORDER BY aa_score DESC, cand) AS rn FROM cands)
        SELECT CAST(u.user_id AS BIGINT) AS user_id,
          CAST(COALESCE(b.cand, -1) AS BIGINT) AS suggested_id,
          CAST(COALESCE(b.common_neighbors, 0) AS BIGINT) AS common_neighbors,
          COALESCE(b.aa_score, 0.0) AS aa_score
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.src = u.user_id
        ORDER BY user_id""")),

    // --------------------------------------------------------------- q139
    // Range join: purchases landing inside each user's daily browsing
    // window ([min, max] view ts per user-day). The operator rewrites the
    // containment predicate into a bucketized equi-join (one hash join on
    // (user, hour-bucket)) — the plan Spark's own planner only produces
    // with a range-join hint; a naive theta join is broadcast-nested-loop.
    // The oracle states the same semantics as the plain theta join.
    // Purchase spend sums as 6-dp DECIMAL (exact, order-independent).
    QueryDef("q139_interval_join",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val intervals = ev.filter($"event_type" === "view")
          .groupBy($"user_id", to_date($"ts").as("day"))
          .agg(min($"ts").as("start_ts"), max($"ts").as("end_ts"))
        val points = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"value")
        IntervalJoin.bucketedIntervalJoin(intervals, points,
            startCol = "start_ts", endCol = "end_ts", tsCol = "ts",
            equiKeys = Seq("user_id" -> "user_id"), bucketSeconds = 3600L)
          .groupBy($"user_id", $"day")
          .agg(count(lit(1)).as("n_purchases"),
            expr("CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)")
              .as("spend"))
          .orderBy($"user_id", $"day")
      },
      Some("""WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS day,
            min(ts) AS start_ts, max(ts) AS end_ts
          FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          p AS (SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase')
        SELECT iv.user_id, iv.day, count(*) AS n_purchases,
          CAST(sum(CAST(round(p.value, 6) AS DECIMAL(28,6))) AS DOUBLE)
            AS spend
        FROM iv JOIN p ON iv.user_id = p.user_id
          AND p.ts >= iv.start_ts AND p.ts <= iv.end_ts
        GROUP BY 1, 2 ORDER BY iv.user_id, iv.day""")),

    // --------------------------------------------------------------- q140
    // Asymmetric containment (quote/excerpt detection): pairs where >= 80%
    // of the smaller doc's distinct 3-shingles appear in the larger doc —
    // the inclusion relation Jaccard dedup is blind to. Spark side is the
    // prefix-filtered overlap join (complete by pigeonhole, sub-quadratic);
    // the O(n^2) scan exists only oracle-side, so the check is exhaustive:
    // the engine must find EXACTLY every qualifying pair.
    QueryDef("q140_containment_pairs",
      (s, dir) => {
        import s.implicits._
        Dedup.containmentPairs(t(s, dir, "documents"), tauNum = 4, tauDen = 5)
          .orderBy($"id_small", $"id_large")
      },
      Some(s"""WITH t AS (SELECT doc_id, $shingles3Sql AS sh,
            len($shingles3Sql) AS sz FROM documents),
          p AS (SELECT a.doc_id AS id_small, b.doc_id AS id_large,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS overlap,
            a.sz AS sz_small
          FROM t a JOIN t b
            ON (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
            AND a.sz >= 5)
        SELECT id_small, id_large, CAST(overlap AS BIGINT) AS overlap,
          round(CAST(overlap AS DOUBLE) / sz_small, 6) AS containment
        FROM p WHERE overlap * 5 >= sz_small * 4
        ORDER BY id_small, id_large""")),

    // --------------------------------------------------------------- q171
    // Text-reuse CHAINS: containment pairs (q140's asymmetric inclusion
    // relation) closed under connectivity — A quoting B quoting C must
    // land in ONE chain even though A and C share nothing directly. The
    // dedup ladder's cluster step applied to the inclusion graph: Spark
    // runs the pointer-jumping min-label CC over the prefix-filtered pair
    // generator; the oracle runs the O(n^2) pair scan plus a recursive-CTE
    // transitive closure. Chain id = component-minimum doc_id; singletons
    // keep their own id.
    QueryDef("q171_reuse_chains",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val pairs = Dedup.containmentPairs(docs, tauNum = 4, tauDen = 5)
          .select($"id_small".as("id_a"), $"id_large".as("id_b"))
        docs.select($"doc_id")
          .join(Dedup.nearDupClusters(pairs), Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"cluster_id", $"doc_id").as("chain_id"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $shingles3Sql AS sh,
            len($shingles3Sql) AS sz FROM documents),
          p AS (SELECT a.doc_id AS id_small, b.doc_id AS id_large,
            len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS overlap,
            a.sz AS sz_small
          FROM t a JOIN t b
            ON (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
            AND a.sz >= 5),
          pr AS (SELECT id_small AS id_a, id_large AS id_b FROM p
            WHERE overlap * 5 >= sz_small * 4),
          edges AS (SELECT id_a AS src, id_b AS dst FROM pr
            UNION ALL SELECT id_b AS src, id_a AS dst FROM pr),
          reach AS (
            SELECT src AS node, dst AS r FROM edges
            UNION
            SELECT e.src AS node, t2.r FROM edges e
              JOIN reach t2 ON e.dst = t2.node),
          mins AS (SELECT node, MIN(r) AS mn FROM reach GROUP BY node)
        SELECT d.doc_id,
          COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS chain_id
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
        ORDER BY d.doc_id""")),

    // --------------------------------------------------------------- q141
    // The SQL front end as a first-class surface: this query is authored
    // entirely in spark.sql over a registered view — LATERAL VIEW
    // posexplode (generator in the FROM clause), div bucketing, windowless
    // aggregation. Positional token-length profile: how token length
    // drifts across document positions (prompt/boilerplate head vs body).
    // The mean divides exact integer sums, identically in both engines.
    QueryDef("q141_sql_positional",
      (s, dir) => {
        t(s, dir, "documents").createOrReplaceTempView("documents_v")
        s.sql("""SELECT CAST(pos div 10 AS BIGINT) AS pos_bucket,
            count(*) AS n_tokens,
            round(CAST(sum(length(tok)) AS DOUBLE) / count(*), 6) AS mean_len
          FROM documents_v
          LATERAL VIEW posexplode(split(trim(text), '\\s+')) t AS pos, tok
          WHERE length(tok) > 0
          GROUP BY pos div 10
          ORDER BY pos_bucket""")
      },
      Some("""WITH d AS (SELECT string_split_regex(trim(text), '\s+') AS ws
            FROM documents),
          tok AS (SELECT unnest(list_transform(range(1, len(ws) + 1),
            i -> {'pos': i - 1, 'tok': ws[i]})) AS u FROM d)
        SELECT CAST(u.pos // 10 AS BIGINT) AS pos_bucket,
          count(*) AS n_tokens,
          round(CAST(sum(len(u.tok)) AS DOUBLE) / count(*), 6) AS mean_len
        FROM tok WHERE len(u.tok) > 0
        GROUP BY 1 ORDER BY pos_bucket""")),

    // --------------------------------------------------------------- q142
    // Robust per-type outlier profile: median / MAD (median absolute
    // deviation) with the 1.4826 normal-consistency constant — the
    // outlier gate that, unlike q121's z-score, a few extreme values
    // cannot drag. The median snaps to the 6-dp grid BEFORE deviations,
    // so both engines interpolate percentiles over identical inputs.
    // Exact percentile materializes each group's values (5 types here);
    // at corpus scale the same query swaps in approx_percentile (q95's
    // histogram route) — the gate logic is unchanged.
    QueryDef("q142_mad_outliers",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val med = ev.groupBy($"event_type")
          .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
        val dev = ev.join(med, "event_type")
          .withColumn("adev", abs($"value" - $"med"))
        val stats = dev.groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          max($"med").as("med"),
          round(expr("percentile(adev, 0.5)"), 6).as("mad"))
        val outs = dev.join(stats.select($"event_type", $"mad"), "event_type")
          .filter($"adev" > lit(3.0 * 1.4826) * $"mad")
          .groupBy($"event_type").agg(count(lit(1)).as("n_outliers"))
        stats.join(outs, Seq("event_type"), "left")
          .select($"event_type", $"n", $"med", $"mad",
            coalesce($"n_outliers", lit(0L)).as("n_outliers"))
          .orderBy($"event_type")
      },
      Some("""WITH med AS (SELECT event_type,
            round(quantile_cont(value, 0.5), 6) AS med
          FROM events GROUP BY 1),
        d AS (SELECT e.event_type, e.value, m.med,
            abs(e.value - m.med) AS adev
          FROM events e JOIN med m USING (event_type)),
        s AS (SELECT event_type, count(*) AS n, max(med) AS med,
            round(quantile_cont(adev, 0.5), 6) AS mad
          FROM d GROUP BY 1),
        o AS (SELECT d.event_type, count(*) AS n_outliers
          FROM d JOIN s USING (event_type)
          WHERE d.adev > (3.0 * 1.4826) * s.mad GROUP BY 1)
        SELECT s.event_type, s.n, s.med, s.mad,
          COALESCE(o.n_outliers, 0) AS n_outliers
        FROM s LEFT JOIN o USING (event_type) ORDER BY event_type""")),

    // --------------------------------------------------------------- q143
    // The ranking-function surface in one pass: per event type, users
    // ranked by exact-decimal total spend — rank, dense_rank, quartile
    // (ntile), percent_rank, cume_dist, and the leader's spend
    // (first_value). Spend aggregates as 6-dp DECIMAL so the ORDER BY key
    // is exact; percent_rank/cume_dist divide integers in doubles —
    // identical IEEE ops both engines. The window partitions by type:
    // thousands of rows per partition, never a global sort.
    QueryDef("q143_rank_functions",
      (s, dir) => {
        import s.implicits._
        val spend = t(s, dir, "events")
          .groupBy($"event_type", $"user_id")
          .agg(expr("sum(CAST(round(value, 6) AS DECIMAL(28,6)))").as("spend"))
        val w = Window.partitionBy($"event_type")
          .orderBy($"spend".desc, $"user_id")
        spend
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pct_rank", round(percent_rank().over(w), 6))
          .withColumn("cume", round(cume_dist().over(w), 6))
          .withColumn("top_spend", first_value($"spend").over(w))
          .select($"event_type", $"user_id",
            $"spend".cast("double").as("spend"), $"rnk", $"drnk",
            $"quartile", $"pct_rank", $"cume",
            $"top_spend".cast("double").as("top_spend"))
          .orderBy($"event_type", $"rnk", $"user_id")
      },
      Some("""WITH spend AS (SELECT event_type, user_id,
            sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS spend
          FROM events GROUP BY 1, 2)
        SELECT event_type, user_id, CAST(spend AS DOUBLE) AS spend,
          CAST(rank() OVER w AS BIGINT) AS rnk,
          CAST(dense_rank() OVER w AS BIGINT) AS drnk,
          CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume,
          CAST(first_value(spend) OVER w AS DOUBLE) AS top_spend
        FROM spend
        WINDOW w AS (PARTITION BY event_type ORDER BY spend DESC, user_id)
        ORDER BY event_type, rnk, user_id""")),

    // --------------------------------------------------------------- q144
    // Explicit GROUPING SETS — the third member of the grouping trio
    // (rollup q124, cube q135): ONLY the two marginals plus the grand
    // total, no (source, lang) cross cells. This is the shape reports
    // actually want when the cross product is huge: N+M+1 output rows
    // instead of N*M, one pass, partial aggregation per set.
    QueryDef("q144_grouping_sets",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupingSets(Seq(Seq($"source"), Seq($"lang"), Seq()),
            $"source", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
            grouping($"source").cast("long").as("g_source"),
            grouping($"lang").cast("long").as("g_lang"))
          .select(coalesce($"source", lit("(all)")).as("source"),
            coalesce($"lang", lit("(all)")).as("lang"),
            $"g_source", $"g_lang", $"n_docs", $"chars")
          .orderBy($"g_source", $"g_lang", $"source", $"lang")
      },
      Some("""SELECT COALESCE(source, '(all)') AS source,
          COALESCE(lang, '(all)') AS lang,
          CAST(grouping(source) AS BIGINT) AS g_source,
          CAST(grouping(lang) AS BIGINT) AS g_lang,
          count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY GROUPING SETS ((source), (lang), ())
        ORDER BY g_source, g_lang, source, lang""")),

    // --------------------------------------------------------------- q145
    // MULTISET set operations — the ALL variants q14-q16's distinct forms
    // don't cover: INTERSECT ALL keeps min(multiplicities), EXCEPT ALL
    // subtracts them, UNION ALL concatenates. Month halves of the event
    // stream compared by event-type multiplicity; results reduce to
    // per-type counts so the output is grid-stable. Spark plans the ALL
    // variants as count-compare aggregations (no distinct, one shuffle).
    QueryDef("q145_set_ops_all",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val cut = to_timestamp(lit("2024-01-16 00:00:00"))
        val a = ev.filter($"ts" < cut).select($"event_type")
        val b = ev.filter($"ts" >= cut).select($"event_type")
        Seq(
          "intersect_all" -> a.intersectAll(b),
          "except_all" -> a.exceptAll(b),
          "union_all" -> a.union(b))
          .map { case (op, df) =>
            df.groupBy($"event_type").agg(count(lit(1)).as("n"))
              .withColumn("op", lit(op))
          }
          .reduce(_.union(_))
          .select($"op", $"event_type", $"n")
          .orderBy($"op", $"event_type")
      },
      Some("""WITH a AS (SELECT event_type FROM events
            WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
          b AS (SELECT event_type FROM events
            WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
          ia AS (SELECT 'intersect_all' AS op, event_type FROM
            (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b)),
          ea AS (SELECT 'except_all' AS op, event_type FROM
            (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)),
          ua AS (SELECT 'union_all' AS op, event_type FROM
            (SELECT event_type FROM a UNION ALL SELECT event_type FROM b))
        SELECT op, event_type, count(*) AS n
        FROM (SELECT * FROM ia UNION ALL SELECT * FROM ea
          UNION ALL SELECT * FROM ua)
        GROUP BY 1, 2 ORDER BY op, event_type""")),

    // --------------------------------------------------------------- q146
    // BPE ENCODE at corpus scale — the apply side of the tokenizer story
    // (train: bpeTrain/q120). Merges learned on the corpus itself, then
    // every distinct word folds through them in priority order. DuckDB
    // cannot re-run the trainer, so correctness is the q44-style
    // self-verifying contract: (a) encoded symbols concatenate back to
    // the word, (b) the output is a fixed point of the merge rules (no
    // learned pair left adjacent), (c) encoding never lengthens a word
    // and never empties a non-empty one. Violations must be ZERO.
    QueryDef("q146_bpe_encode",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val merges = CorpusStats.bpeTrain(docs, merges = 12)
          .map { case (a, b, _) => (a, b) }
        val vocab = CorpusStats.bpeVocab(docs)
        val enc = CorpusStats.bpeEncode(vocab, merges)
          .withColumn("adj_pairs", zip_with(
            slice($"symbols", lit(1), size($"symbols") - 1),
            slice($"symbols", lit(2), size($"symbols") - 1),
            (a, b) => concat(a, lit(" "), b)))
        val mergePairs = array(merges.map { case (a, b) => lit(s"$a $b") }: _*)
        enc.agg(
          (count_if(concat_ws("", $"symbols") =!= $"word") +
            count_if(arrays_overlap($"adj_pairs", mergePairs)) +
            count_if(size($"symbols") > length($"word")) +
            count_if(length($"word") > 0 && size($"symbols") < 1)
          ).as("violations"),
          (count(lit(1)) > 0L).as("encoded_words"))
      },
      Some("SELECT CAST(0 AS BIGINT) AS violations, true AS encoded_words")),

    // --------------------------------------------------------------- q150
    // SQL-only exact dedup: the q34 pipeline authored entirely in SQL —
    // the registered doc_fingerprint kernel (GraftExtensions) over the
    // documents_v view (GraftSql.registerAll is the one non-SQL call a
    // SQL-only client makes). Same oracle as q34.
    QueryDef("q150_sql_exact_dedup",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""SELECT doc_fingerprint(text) AS content_hash,
            min(doc_id) AS canonical_id, count(*) AS dup_count
          FROM documents_v GROUP BY content_hash ORDER BY content_hash""")
      },
      Some("""SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))) AS content_hash,
        min(doc_id) AS canonical_id, count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY content_hash""")),

    // --------------------------------------------------------------- q151
    // SQL-only heavy hitters: the SpaceSaving summary as a registered SQL
    // AGGREGATE (GraftSql.registerSpaceSaving) — built per group like any
    // sum(), exploded and ranked in SQL. Capacity 64 >= the per-source
    // vocabulary on the fixture, so the exact mode holds and the oracle is
    // q147's plain groupBy top-5.
    QueryDef("q151_sql_heavy_hitters",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""WITH tok AS (SELECT source, tok FROM documents_v
              LATERAL VIEW explode(split(trim(text), '\\s+')) t AS tok
              WHERE length(tok) > 0),
            summ AS (SELECT source, ss_summary_64('', tok, CAST(1 AS BIGINT)) AS summary
              FROM tok GROUP BY source)
          SELECT source, CAST(pos + 1 AS BIGINT) AS rank,
            c.item AS item, c.cnt AS cnt, c.err AS err
          FROM summ LATERAL VIEW posexplode(slice(summary, 1, 5)) p AS pos, c
          ORDER BY source, rank""")
      },
      Some("""WITH tok AS (SELECT source,
            unnest(string_split_regex(trim(text), '\s+')) AS item
          FROM documents),
          cnt AS (SELECT source, item, count(*) AS cnt FROM tok
            WHERE len(item) > 0 GROUP BY 1, 2)
        SELECT source, CAST(rn AS BIGINT) AS rank, item,
          CAST(cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
        FROM (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY cnt DESC, item) AS rn FROM cnt)
        WHERE rn <= 5 ORDER BY source, rank""")),

    // --------------------------------------------------------------- q152
    // SQL-only BM25: the whole-operator entry point as a named view
    // (graft_bm25_topk) — a SQL author selects ranked search results
    // without re-deriving the scoring pipeline; the view is a lazy
    // DataFrame, so Catalyst plans it with the selecting query. Same
    // oracle as q133.
    QueryDef("q152_sql_bm25_view",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""SELECT term, rank, doc_id, tf, score FROM graft_bm25_topk
          ORDER BY term, rank""")
      },
      Some("""WITH tok AS (SELECT doc_id,
            unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
            WHERE len(term) > 0 GROUP BY 1, 2),
          dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
          dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
            (SELECT sum(dl) FROM dl) AS sum_dl),
          qt AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT 10),
          scored AS (SELECT tf.term, tf.doc_id, tf.tf,
            round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5))
              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
                  (CAST(dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
              6) AS score
            FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
            CROSS JOIN consts)
        SELECT term, CAST(rn AS BIGINT) AS rank, doc_id,
          CAST(tf AS BIGINT) AS tf, score
        FROM (SELECT *, row_number() OVER (PARTITION BY term
                ORDER BY score DESC, doc_id) AS rn FROM scored)
        WHERE rn <= 10 ORDER BY term, rank""")),

    // --------------------------------------------------------------- q173
    // SQL-only sampling surface: the deterministic split AND an independent
    // stratum-free sample membership in ONE map-only SQL pass, via the
    // registered `split_hash` kernel (Sampling.hashHexCol — built-in
    // md5/substr, codegen'd). The thresholds interpolate from the same
    // Sampling.fractionThresholdHex the Scala API uses, so a SQL client
    // reproduces q60's exact split without re-deriving the coin.
    QueryDef("q173_sql_hash_split",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql(s"""SELECT doc_id,
            CASE WHEN split_hash(doc_id, 'graft-split')
                      < '${Sampling.fractionThresholdHex(0.1)}'
                 THEN 'val' ELSE 'train' END AS split,
            split_hash(doc_id, 'graft-sample')
                < '${Sampling.fractionThresholdHex(0.25)}' AS sampled
          FROM documents_v ORDER BY doc_id""")
      },
      Some(s"""SELECT doc_id,
          CASE WHEN substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < '${Sampling.fractionThresholdHex(0.1)}'
               THEN 'val' ELSE 'train' END AS split,
          substr(md5('graft-sample' || CAST(doc_id AS VARCHAR)), 1, 8)
              < '${Sampling.fractionThresholdHex(0.25)}' AS sampled
        FROM documents ORDER BY doc_id""")),

    // --------------------------------------------------------------- q174
    // SQL-only weighted reservoir (Efraimidis-Spirakis A-ES): q165's
    // pipeline authored entirely in Spark SQL — the 60-bit md5 draw via
    // built-in conv/substring/md5, the exponential key via ln, the
    // per-stratum top-k via one window. Every arithmetic step is the same
    // IEEE op sequence as the Scala operator (and the DuckDB oracle), so
    // the 6-dp-rounded keys are bit-equal across all three. Same oracle as
    // q165.
    QueryDef("q174_sql_weighted_reservoir",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""WITH d AS (SELECT lang, doc_id, n_chars,
              CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),
                '|graft-aes')), 1, 15), 16, 10) AS BIGINT) AS h
            FROM documents_v WHERE n_chars > 0),
          kye AS (SELECT lang, doc_id, n_chars,
              round(ln((CAST(h AS DOUBLE) + 1.0D) / 1152921504606846976.0D)
                / n_chars, 6) AS aes_key
            FROM d),
          rk AS (SELECT *, row_number() OVER (PARTITION BY lang
              ORDER BY aes_key DESC, doc_id) AS rank FROM kye)
          SELECT lang, doc_id, n_chars, aes_key, rank FROM rk
          WHERE rank <= 10 ORDER BY lang, rank""")
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

    // --------------------------------------------------------------- q175
    // SQL-only redaction audit: the registered `redact_pii` kernel
    // (Redaction.redactedText — the default rule pack's regexp_replace
    // chain, codegen'd) over q89's deterministic dirty fixture, with the
    // residual invariant (no rule re-matches the scrubbed text) and the
    // removed-character tally recomputed per source in plain SQL via the
    // built-in regexp_count. The oracle replays the identical chain in
    // DuckDB — rule ORDER is part of the pinned contract.
    QueryDef("q175_sql_redaction",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""WITH dirty AS (SELECT doc_id, source,
              concat(text, ' contact u', CAST(doc_id AS STRING),
                '@mail.example.com from 10.', CAST(doc_id % 200 AS STRING),
                '.', CAST((doc_id * 7) % 250 AS STRING),
                '.', CAST(doc_id % 97 AS STRING),
                ' ref ', CAST(100000000 + doc_id * 31 AS STRING)) AS text
            FROM documents_v),
          red AS (SELECT source, text, redact_pii(text) AS rt FROM dirty)
          SELECT source, count(*) AS n_docs,
            CAST(sum(length(text) - length(rt)) AS BIGINT) AS chars_removed,
            CAST(sum(regexp_count(rt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')
              + regexp_count(rt, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')
              + regexp_count(rt, '\\b\\d{8,}\\b')) AS BIGINT) AS residual
          FROM red GROUP BY source ORDER BY source""")
      },
      Some("""WITH dirty AS (SELECT doc_id, source,
            text || ' contact u' || CAST(doc_id AS VARCHAR) ||
            '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
            '.' || CAST((doc_id * 7) % 250 AS VARCHAR) ||
            '.' || CAST(doc_id % 97 AS VARCHAR) ||
            ' ref ' || CAST(100000000 + doc_id * 31 AS VARCHAR) AS text
          FROM documents),
        red AS (SELECT source, text,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
              '\b\d{8,}\b', '<ID>', 'g') AS rt
          FROM dirty)
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(text) - len(rt)) AS BIGINT) AS chars_removed,
          CAST(sum(len(regexp_extract_all(rt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
            + len(regexp_extract_all(rt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
            + len(regexp_extract_all(rt, '\b\d{8,}\b'))) AS BIGINT) AS residual
        FROM red GROUP BY source ORDER BY source""")),

    // --------------------------------------------------------------- q176
    // SQL-only media dedup: the decoded image hashes behind a named view
    // (graft_image_ahash — the real javax.imageio decode + 8x8 aHash), the
    // BANDING authored in SQL (4 x 16-bit blocks via shiftright/mask, one
    // equi-join on (block, key), pigeonhole-complete for hamming <= 3), and
    // the exact bit_count re-check — a SQL client runs the whole q159
    // near-dup pipeline without touching the codec path. Same oracle as
    // q159 (closed-form fixture hashes + exhaustive O(n^2) scan).
    QueryDef("q176_sql_image_dedup",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        graft.GraftSql.registerMediaViews(s, dir)
        s.sql("""WITH h AS (SELECT asset_id, ahash FROM graft_image_ahash),
          b AS (SELECT asset_id, blk,
              shiftright(ahash, blk * 16) & 65535 AS bandkey
            FROM h LATERAL VIEW explode(array(0, 1, 2, 3)) t AS blk),
          cand AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b
            FROM b x JOIN b y ON x.blk = y.blk AND x.bandkey = y.bandkey
              AND x.asset_id < y.asset_id
            GROUP BY 1, 2),
          pairs AS (SELECT c.id_a, c.id_b,
              CAST(bit_count(ha.ahash ^ hb.ahash) AS INT) AS hamming
            FROM cand c
            JOIN h ha ON ha.asset_id = c.id_a
            JOIN h hb ON hb.asset_id = c.id_b)
          SELECT id_a, id_b, hamming FROM pairs
          WHERE hamming <= 2 ORDER BY id_a, id_b""")
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

    // --------------------------------------------------------------- q177
    // Community detection by synchronous label propagation over the user
    // co-engagement graph — the standard curation pass grouping users (or
    // documents) into behavior communities, composing with the dedup
    // cluster machinery. Exactly LpaRounds synchronous rounds (LPA is not
    // monotone, so the fixed round count IS the contract); integer counts
    // + min-label tie-breaks make every round engine-portable, so the
    // oracle unrolls the identical rounds as a CTE chain. Output: every
    // event user with its community label (own id when isolated) and the
    // community's size.
    QueryDef("q177_label_propagation",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val lp = Graph.labelPropagation(Graph.coEngagementEdges(ev),
          rounds = LpaRounds)
        val labeled = ev.select($"user_id").distinct()
          .join(lp.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
          .select($"user_id", coalesce($"community", $"user_id").as("community"))
        val sizes = labeled.groupBy($"community")
          .agg(count(lit(1)).as("community_size"))
        labeled.join(sizes, "community")
          .select($"user_id", $"community", $"community_size")
          .orderBy($"user_id")
      },
      Some(labelPropagationOracle)),

    // --------------------------------------------------------------- q179
    // SQL-only community surface: q177's label-propagation output behind a
    // named view (graft_user_communities) — a SQL author joins or groups
    // on `community` without re-deriving the propagation; the size
    // aggregation here is plain SQL over the view. Same unrolled-round
    // oracle as q177.
    QueryDef("q179_sql_communities",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        graft.GraftSql.registerCommunityView(s, dir)
        s.sql("""WITH sz AS (SELECT community, count(*) AS community_size
              FROM graft_user_communities GROUP BY community)
          SELECT c.user_id, c.community, sz.community_size
          FROM graft_user_communities c JOIN sz USING (community)
          ORDER BY c.user_id""")
      },
      Some(labelPropagationOracle)))
}
