package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Graph, Layout, Materialize, Sketches}

/** Probabilistic-sketch queries over the documents corpus. Unlike
  * `approx_count_distinct`/t-digest (engine-private internals, only
  * bound-checkable), these sketches are built from a fully specified
  * md5-derived construction (graft.operators.Sketches), so the DuckDB
  * oracle re-builds the SAME sketch and the estimates compare exactly —
  * the sketch is a portable, mergeable artifact, not a black box.
  */
object Sketch extends QueryModule {

  private val wsSql = """string_split_regex(trim(text), '\s+')"""
  private val tokSql =
    s"SELECT source, unnest($wsSql) AS token FROM documents"

  // HLL shape: m = 2^b registers over a 60-bit md5 hash
  private val B = 12
  private val M = 1L << B

  // Shared by q181 (Scala-authored) and q182 (SQL-authored via the
  // registered qsummary_1024 aggregate): explicit row_number rank picks —
  // NOT quantile_disc, whose rank convention differs; rank = ceil(p*n) is
  // spelled with the same double arithmetic as QuantileAgg.finish.
  private val quantileOracle: String =
    """WITH v AS (SELECT source, CAST(n_chars AS DOUBLE) AS v
          FROM documents WHERE n_chars IS NOT NULL),
        r AS (SELECT source, v,
            row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
            count(*) OVER (PARTITION BY source) AS n FROM v),
        ps AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.95] AS DOUBLE[])) AS p),
        sel AS (SELECT r.source, ps.p, min(r.v) AS q_value
          FROM r CROSS JOIN ps
          WHERE r.rn >= CAST(ceil(ps.p * r.n) AS BIGINT)
          GROUP BY 1, 2)
      SELECT source, p, q_value FROM sel ORDER BY source, p"""
  private val SuffixBits = 60 - B
  // alpha_m * m^2, computed ONCE in Scala and embedded as the same double
  // literal on both sides (a formula re-evaluated under DuckDB DECIMAL
  // rules would land on a different grid point)
  private val AlphaM2: Double = 0.7213 / (1.0 + 1.079 / M) * M * M
  private val LinearRangeBound: Double = 2.5 * M

  // CMS shape
  private val D = 4
  private val W = 1024

  /** 60-bit md5 prefix as BIGINT, DuckDB form (Sketches.md5Bits60 mirror). */
  private def h60Sql(e: String) =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  def defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q86
    // Per-source distinct-token cardinality: exact vs the HLL estimate from
    // Sketches.hllRegisters/hllEstimate. Register build is one groupBy over
    // (source, bucket) — map-side combine caps the shuffle at groups x 4096
    // rows no matter the corpus size; that's the whole point at 100 TB.
    // The oracle rebuilds the identical sketch (same hash, same registers,
    // same correction), so hll_estimate compares exactly, not as a bound.
    QueryDef("q86_hll_distinct",
      (s, dir) => {
        import s.implicits._
        // ONE corpus tokenize (r19): `toks` un-aggregated fed TWO different
        // exchanges (the register groupBy and the count_distinct), each
        // replaying the tokenize+explode map side — twice over the corpus,
        // single-task on the fixture's one-split file. Distinct-ing
        // (source, token) first gives both consumers the SAME exchange
        // subtree (ReuseExchange runs the tokenize once, at spread
        // parallelism), and both results are exactly preserved: HLL
        // registers max over rho (duplicates never move a max) and
        // count_distinct == count over the distinct frame.
        val toks = Layout.spread(
            t(s, dir, "documents").select($"source", $"doc_id", $"text"), $"doc_id")
          .select($"source", explode(graft.functions.TextFunctions.tokens($"text"))
            .as("token"))
          .filter(length($"token") > 0)
          .distinct()
        val est = Sketches.hllEstimate(
          Sketches.hllRegisters(toks, Seq("source"), $"token", B), Seq("source"), B)
        toks.groupBy($"source")
          .agg(count($"token").as("exact_distinct"))
          .join(est, "source")
          .select($"source", $"exact_distinct",
            round($"hll_estimate", 6).as("hll_estimate"),
            round(($"hll_estimate" - $"exact_distinct") / $"exact_distinct", 6)
              .as("rel_err"))
          .orderBy($"source")
      },
      Some(s"""WITH tk AS (SELECT source, token FROM ($tokSql)
            WHERE len(token) > 0),
          h AS (SELECT source, ${h60Sql("token")} AS h FROM tk),
          hh AS (SELECT source, h & ${M - 1} AS bucket,
              CASE WHEN (h >> $B) = 0 THEN ${SuffixBits + 1}
                ELSE ${SuffixBits + 1} - length(printf('%b', h >> $B)) END AS rho
            FROM h),
          reg AS (SELECT source, bucket, max(rho) AS register
            FROM hh GROUP BY 1, 2),
          agg AS (SELECT source,
              (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
              count(*) AS c FROM reg GROUP BY 1),
          est AS (SELECT source,
              CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c FROM agg),
          fin AS (SELECT source,
              CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
                THEN CAST($M AS DOUBLE) *
                  ln(CAST($M AS DOUBLE) / ($M - c))
                ELSE raw END AS e FROM est),
          ex AS (SELECT source, count(DISTINCT token) AS exact_distinct FROM tk
            GROUP BY 1)
        SELECT source, exact_distinct, round(e, 6) AS hll_estimate,
          round((e - exact_distinct) / exact_distinct, 6) AS rel_err
        FROM ex JOIN fin USING (source) ORDER BY source""")),

    // ---------------------------------------------------------------- q87
    // Count-min heavy hitters: the corpus's exact top-20 tokens point-
    // queried against a d=4 x w=1024 CMS. cms_estimate >= exact_n always
    // (CMS never undercounts); overcount is the collision inflation. Cell
    // build is one groupBy over (r, c) — at most d*w cells reach the
    // shuffle per partition; the probe side is 20 rows, broadcast for free.
    QueryDef("q87_cms_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        // ONE corpus-wide token pass, aggregated IMMEDIATELY to the exact
        // per-token counts (map-side-combined groupBy — the only corpus-
        // sized shuffle left, and it carries (token, count) rows, not raw
        // occurrences). Both the top-20 and the CMS derive from that
        // VOCABULARY-sized frame: the sketch sums counts per cell
        // (cmsCellsWeighted — bit-identical to counting raw occurrences),
        // so the former corpus-sized MEMORY_AND_DISK token cache and the
        // d-way corpus explode are gone (r19, guide §2.3). The counts frame
        // feeds two consumers; vocabulary-sized, it is shared cheaply.
        // spread (r19, guide §2.5 input parallelism): the tokenize +
        // explode + map-side partial agg would otherwise run on the scan's
        // splits — ONE task on the single-row-group fixture file (q87
        // profile: 844 ms in 1 of 32 tasks).
        val counts = Layout.spread(t(s, dir, "documents").select($"doc_id", $"text"),
            $"doc_id")
          .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
          .filter(length($"token") > 0)
          .groupBy($"token").agg(count(lit(1)).as("exact_n"))
        Materialize.shared(counts) {
          val top = Materialize.shared()(
            counts.orderBy($"exact_n".desc, $"token").limit(20))
          val cells = Sketches.cmsCellsWeighted(
            counts, Seq.empty, $"token", $"exact_n", D, W)
          Sketches.cmsQuery(cells, Seq.empty, top, $"token", D, W)
            .select($"__item".as("token"), $"cms_estimate")
            .join(top, "token")
            .select($"token", $"exact_n", $"cms_estimate",
              ($"cms_estimate" - $"exact_n").as("overcount"))
        }.orderBy($"token")
      },
      Some(s"""WITH tk AS (SELECT token FROM ($tokSql) WHERE len(token) > 0),
          cnt AS (SELECT token, count(*) AS exact_n FROM tk GROUP BY 1),
          top AS (SELECT token, exact_n FROM cnt
            ORDER BY exact_n DESC, token LIMIT 20),
          rs AS (SELECT unnest([${(0 until D).mkString(", ")}]) AS r),
          th AS (SELECT ${h60Sql("token")} AS h FROM tk),
          cells AS (SELECT r,
              ((h & 1073741823) + r * ((h >> 30) | 1)) % $W AS c,
              count(*) AS n
            FROM th CROSS JOIN rs GROUP BY 1, 2),
          probe AS (SELECT token, exact_n, r,
              ((h & 1073741823) + r * ((h >> 30) | 1)) % $W AS c
            FROM (SELECT token, exact_n, ${h60Sql("token")} AS h FROM top)
            CROSS JOIN rs),
          est AS (SELECT token, exact_n,
              min(COALESCE(n, 0)) AS cms_estimate
            FROM probe LEFT JOIN cells USING (r, c) GROUP BY 1, 2)
        SELECT token, exact_n, CAST(cms_estimate AS BIGINT) AS cms_estimate,
          CAST(cms_estimate - exact_n AS BIGINT) AS overcount
        FROM est ORDER BY token""")),

    // ---------------------------------------------------------------- q88
    // Cross-source vocabulary overlap WITHOUT re-scanning the corpus: the
    // per-source HLL register frames (the same mergeable artifact q86
    // builds) max-merge into a pairwise union sketch, and inclusion-
    // exclusion (|A|+|B|-|A∪B|) yields the intersection. At 100 TB this is
    // the whole point of a mergeable sketch: each shard/day publishes its
    // ≤4096-row register frame once, and every pairwise (or rolling-window)
    // overlap after that is arithmetic on tiny frames. The exact jaccard is
    // computed alongside for the comparison only — the production path
    // never needs the distinct() or the token self-join. The oracle
    // rebuilds the identical sketches, so jaccard_hll compares exactly.
    QueryDef("q88_hll_source_overlap",
      (s, dir) => {
        import s.implicits._
        val dt = t(s, dir, "documents")
          .select($"source", explode(graft.functions.TextFunctions.tokens($"text"))
            .as("token"))
          .filter(length($"token") > 0)
          .distinct()
        val regs = Sketches.hllRegisters(dt, Seq("source"), $"token", B)
        val est = Sketches.hllEstimate(regs, Seq("source"), B)
        val pairs = dt.select($"source").distinct().as("pa")
          .join(dt.select($"source").distinct().as("pb"),
            col("pa.source") < col("pb.source"))
          .select(col("pa.source").as("source_a"), col("pb.source").as("source_b"))
        val unionRegs = regs.join(broadcast(pairs),
            $"source" === $"source_a" || $"source" === $"source_b")
          .groupBy($"source_a", $"source_b", $"bucket")
          .agg(max($"register").as("register"))
        val estU = Sketches.hllEstimate(unionRegs, Seq("source_a", "source_b"), B)
          .withColumnRenamed("hll_estimate", "est_u")
        val nd = dt.groupBy($"source").agg(count(lit(1)).as("nd"))
        val inter = dt.as("x").join(dt.as("y"),
            col("x.token") === col("y.token") && col("x.source") < col("y.source"))
          .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
          .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_inter"))
        pairs
          .join(inter, Seq("source_a", "source_b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .join(nd.select($"source".as("source_a"), $"nd".as("nd_a")), "source_a")
          .join(nd.select($"source".as("source_b"), $"nd".as("nd_b")), "source_b")
          .join(est.select($"source".as("source_a"), $"hll_estimate".as("est_a")),
            "source_a")
          .join(est.select($"source".as("source_b"), $"hll_estimate".as("est_b")),
            "source_b")
          .join(estU, Seq("source_a", "source_b"))
          .select($"source_a", $"source_b",
            $"n_inter".cast("long").as("n_inter"),
            ($"nd_a" + $"nd_b" - $"n_inter").cast("long").as("n_union"),
            round($"n_inter".cast("double") /
              ($"nd_a" + $"nd_b" - $"n_inter").cast("double"), 6)
              .as("jaccard_exact"),
            round(($"est_a" + $"est_b" - $"est_u") / $"est_u", 6)
              .as("jaccard_hll"))
          .orderBy($"source_a", $"source_b")
      },
      Some(s"""WITH tk AS (SELECT DISTINCT source, token FROM ($tokSql)
            WHERE len(token) > 0),
          hh AS (SELECT source, h & ${M - 1} AS bucket,
              CASE WHEN (h >> $B) = 0 THEN ${SuffixBits + 1}
                ELSE ${SuffixBits + 1} - length(printf('%b', h >> $B)) END AS rho
            FROM (SELECT source, ${h60Sql("token")} AS h FROM tk)),
          reg AS (SELECT source, bucket, max(rho) AS register
            FROM hh GROUP BY 1, 2),
          srcs AS (SELECT DISTINCT source FROM tk),
          pairs AS (SELECT a.source AS sa, b.source AS sb
            FROM srcs a JOIN srcs b ON a.source < b.source),
          ureg AS (SELECT sa, sb, bucket, max(register) AS register
            FROM pairs JOIN reg ON reg.source = sa OR reg.source = sb
            GROUP BY 1, 2, 3),
          est1 AS (SELECT source,
              CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
                THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / ($M - c))
                ELSE raw END AS e
            FROM (SELECT source, CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c
              FROM (SELECT source, (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
                  count(*) AS c FROM reg GROUP BY 1))),
          estu AS (SELECT sa, sb,
              CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
                THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / ($M - c))
                ELSE raw END AS e
            FROM (SELECT sa, sb, CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c
              FROM (SELECT sa, sb, (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
                  count(*) AS c FROM ureg GROUP BY 1, 2))),
          ex AS (SELECT source, count(*) AS nd FROM tk GROUP BY 1),
          exi AS (SELECT x.source AS sa, y.source AS sb, count(*) AS ni
            FROM tk x JOIN tk y ON x.token = y.token AND x.source < y.source
            GROUP BY 1, 2)
        SELECT sa AS source_a, sb AS source_b,
          CAST(COALESCE(ni, 0) AS BIGINT) AS n_inter,
          CAST(na.nd + nb.nd - COALESCE(ni, 0) AS BIGINT) AS n_union,
          round(CAST(COALESCE(ni, 0) AS DOUBLE) /
            CAST(na.nd + nb.nd - COALESCE(ni, 0) AS DOUBLE), 6) AS jaccard_exact,
          round((ea.e + eb.e - eu.e) / eu.e, 6) AS jaccard_hll
        FROM pairs
        LEFT JOIN exi USING (sa, sb)
        JOIN ex na ON na.source = sa
        JOIN ex nb ON nb.source = sb
        JOIN est1 ea ON ea.source = sa
        JOIN est1 eb ON eb.source = sb
        JOIN estu eu USING (sa, sb)
        ORDER BY source_a, source_b""")),

    // ---------------------------------------------------------------- q95
    // Histogram-sketch quantiles vs exact: the mergeable quantile
    // companion to q86/q87. The sketch is one groupBy bounded at
    // groups x 256 rows whatever the corpus size (a 100 TB run publishes
    // per-shard histograms and sums them); the estimate is provably within
    // one grid cell of truth, pinned per row by within_bound. The oracle
    // rebuilds the identical grid, so the estimates compare exactly.
    QueryDef("q95_histogram_quantiles",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val cells = Sketches.histogramCells(docs, Seq("source"), $"n_chars",
          HistW, HistB)
        val est = Seq(50 -> 0.5, 90 -> 0.9, 99 -> 0.99).map { case (tag, p) =>
          Sketches.histogramQuantile(cells, Seq("source"), p, HistW)
            .withColumn(s"est_p$tag", round($"quantile_estimate", 6))
            .drop("quantile_estimate")
        }.reduce(_.join(_, "source"))
        docs.groupBy($"source")
          .agg(round(expr("percentile(n_chars, 0.5)"), 6).as("exact_p50"),
            round(expr("percentile(n_chars, 0.9)"), 6).as("exact_p90"),
            round(expr("percentile(n_chars, 0.99)"), 6).as("exact_p99"))
          .join(est, "source")
          .select($"source", $"est_p50", $"exact_p50", $"est_p90",
            $"exact_p90", $"est_p99", $"exact_p99",
            (abs($"est_p50" - $"exact_p50") <= lit(HistW) &&
              abs($"est_p90" - $"exact_p90") <= lit(HistW) &&
              abs($"est_p99" - $"exact_p99") <= lit(HistW))
              .as("within_bound"))
          .orderBy($"source")
      },
      Some {
        def pick(tag: String, p: String) =
          s"""$tag AS (SELECT source, est FROM (
              SELECT source, CAST(bucket AS DOUBLE) * $HistW + $HistW *
                  CAST(rk - (cum - n) AS DOUBLE) / CAST(n AS DOUBLE) AS est,
                row_number() OVER (PARTITION BY source ORDER BY bucket) AS pk
              FROM (SELECT *, greatest(1,
                  CAST(ceil(CAST($p AS DOUBLE) * total) AS BIGINT)) AS rk
                FROM hc)
              WHERE cum >= greatest(1,
                CAST(ceil(CAST($p AS DOUBLE) * total) AS BIGINT)))
            WHERE pk = 1)"""
        s"""WITH cells AS (SELECT source,
              least(CAST(floor(n_chars / CAST($HistW AS DOUBLE)) AS BIGINT),
                ${HistB - 1}) AS bucket, count(*) AS n
            FROM documents GROUP BY 1, 2),
          hc AS (SELECT source, bucket, n,
              sum(n) OVER (PARTITION BY source ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS cum,
              sum(n) OVER (PARTITION BY source) AS total
            FROM cells),
          ${pick("e50", "0.5")},
          ${pick("e90", "0.9")},
          ${pick("e99", "0.99")},
          ex AS (SELECT source,
              round(quantile_cont(n_chars, 0.5), 6) AS exact_p50,
              round(quantile_cont(n_chars, 0.9), 6) AS exact_p90,
              round(quantile_cont(n_chars, 0.99), 6) AS exact_p99
            FROM documents GROUP BY 1)
        SELECT source, round(e50.est, 6) AS est_p50, exact_p50,
          round(e90.est, 6) AS est_p90, exact_p90,
          round(e99.est, 6) AS est_p99, exact_p99,
          abs(round(e50.est, 6) - exact_p50) <= $HistW AND
            abs(round(e90.est, 6) - exact_p90) <= $HistW AND
            abs(round(e99.est, 6) - exact_p99) <= $HistW AS within_bound
        FROM ex JOIN e50 USING (source) JOIN e90 USING (source)
          JOIN e99 USING (source)
        ORDER BY source"""
      }),

    // --------------------------------------------------------------- q181
    // Mergeable quantile summary (Sketches.QuantileAgg): per-source rank
    // quantiles of document length from ONE typed-Aggregator aggregation —
    // the WIDTH-FREE quantile member of the mergeable-sketch family (q95's
    // histogram needs an a-priori bucket grid; this compactor ladder does
    // not). Capacity 1024 exceeds every fixture group, so the summary is
    // the EXACT multiset and finish() is exact rank selection, which the
    // oracle recomputes as explicit row_number rank picks (NOT
    // quantile_disc — its rank convention differs; rank = ceil(p*n) is
    // spelled with the same double arithmetic on both sides). The
    // compressed mode's rank-error bound is pinned by SketchesSpec on
    // adversarial merge trees.
    QueryDef("q181_quantile_summary",
      (s, dir) => {
        import s.implicits._
        Sketches.quantileSummary(t(s, dir, "documents"), Seq("source"),
            $"n_chars", capacity = 1024, ps = Seq(0.25, 0.5, 0.75, 0.95))
          .orderBy($"source", $"p")
      },
      Some(quantileOracle)),

    // --------------------------------------------------------------- q182
    // SQL-only quantile summary: the q181 aggregator as a registered SQL
    // aggregate (GraftSql.registerQuantile) — `GROUP BY source` builds the
    // compactor summary the way it calls sum; the quantile vector explodes
    // and maps back to its p in plain SQL. Same explicit-rank oracle as
    // q181.
    QueryDef("q182_sql_quantiles",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""WITH qs AS (SELECT source,
              qsummary_1024(CAST(n_chars AS DOUBLE)) AS v
            FROM documents_v WHERE n_chars IS NOT NULL GROUP BY source)
          SELECT source,
            element_at(array(0.25D, 0.5D, 0.75D, 0.95D), pos + 1) AS p,
            q AS q_value
          FROM qs LATERAL VIEW posexplode(v) t AS pos, q
          ORDER BY source, p""")
      },
      Some(quantileOracle)),

    // --------------------------------------------------------------- q147
    // Mergeable batch SpaceSaving heavy hitters (Sketches.SpaceSavingAgg):
    // per-source top-5 tokens from ONE typed-Aggregator aggregation whose
    // partial summaries build map-side and merge at the reducer — the
    // heavy-hitter member of the mergeable-sketch family (HLL distinct /
    // CMS frequency / histogram quantiles / SpaceSaving top-k). Capacity 64
    // exceeds the fixture vocabulary, so the summary is EXACT and the
    // oracle is a plain count + rank; the undersized-capacity error
    // guarantees are pinned by SketchesSpec on adversarial merges.
    QueryDef("q147_spacesaving_topk",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .select($"source", explode(TextFunctions.tokens($"text")).as("tok"))
          .filter(length($"tok") > 0)
        Sketches.spaceSavingTopK(toks, Seq("source"), $"tok", lit(1L),
            capacity = 64, k = 5)
          .orderBy($"source", $"rank")
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

    // --------------------------------------------------------------- q157
    // Incremental sketch rollup with PERSISTENCE — the production seam the
    // mergeable-sketch family exists for (reference spark_streaming.py
    // keeps manifests, not sketches; at 100 TB the nightly shard publishes
    // its ≤4096-row register frame once and every later question is
    // arithmetic on tiny frames). Day-1 (even doc_id) per-source HLL
    // registers are WRITTEN to parquet; day-2 (odd doc_id) registers merge
    // against the LOADED frame — day 1 is never re-scanned — and the
    // rolled-up estimate must land on the same 6-dp grid point as the
    // single-pass whole-corpus estimate (max-merge associativity over
    // integer registers, exact through the parquet round-trip). The oracle
    // computes the single-pass estimate once and asserts rollup == full.
    // The same seam serves the CMS/histogram/SpaceSaving frames (sum /
    // sum / counter merges respectively).
    QueryDef("q157_sketch_rollup_persist",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .select($"doc_id", $"source",
            explode(TextFunctions.tokens($"text")).as("token"))
          .filter(length($"token") > 0)
        // app-id-suffixed scratch dir (no cross-process race; deleted at
        // JVM exit so runs don't leak parquet into tmpdir — see TempStores)
        val store = graft.sources.TempStores.scratch(s, "graft_q157_registers")
        Sketches.hllRegisters(toks.filter($"doc_id" % 2 === 0),
            Seq("source"), $"token", B)
          .write.mode("overwrite").parquet(store)
        val merged = s.read.parquet(store)
          .unionByName(Sketches.hllRegisters(toks.filter($"doc_id" % 2 === 1),
            Seq("source"), $"token", B))
          .groupBy($"source", $"bucket").agg(max($"register").as("register"))
        val rollup = Sketches.hllEstimate(merged, Seq("source"), B)
          .select($"source", round($"hll_estimate", 6).as("est_rollup"))
        val full = Sketches.hllEstimate(
            Sketches.hllRegisters(toks, Seq("source"), $"token", B),
            Seq("source"), B)
          .select($"source", round($"hll_estimate", 6).as("est_full"))
        full.join(rollup, "source")
          .select($"source", $"est_full", $"est_rollup",
            ($"est_full" === $"est_rollup").as("rollup_exact"))
          .orderBy($"source")
      },
      Some(s"""WITH tk AS (SELECT source, token FROM ($tokSql)
            WHERE len(token) > 0),
          h AS (SELECT source, ${h60Sql("token")} AS h FROM tk),
          hh AS (SELECT source, h & ${M - 1} AS bucket,
              CASE WHEN (h >> $B) = 0 THEN ${SuffixBits + 1}
                ELSE ${SuffixBits + 1} - length(printf('%b', h >> $B)) END AS rho
            FROM h),
          reg AS (SELECT source, bucket, max(rho) AS register
            FROM hh GROUP BY 1, 2),
          agg AS (SELECT source,
              (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
              count(*) AS c FROM reg GROUP BY 1),
          est AS (SELECT source,
              CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c FROM agg),
          fin AS (SELECT source,
              CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
                THEN CAST($M AS DOUBLE) *
                  ln(CAST($M AS DOUBLE) / ($M - c))
                ELSE raw END AS e FROM est)
        SELECT source, round(e, 6) AS est_full, round(e, 6) AS est_rollup,
          TRUE AS rollup_exact
        FROM fin ORDER BY source""")),

    // --------------------------------------------------------------- q148
    // WEIGHTED heavy hitters: top-5 spenders per day by micro-cent total
    // (integer weights — exact, order-free). Same mergeable summary as
    // q147 but per-group cardinality is the user population, exercising
    // capacity sizing: 4096 counters comfortably exceed the fixture's
    // users-per-day, so the sketch is exact and the oracle is a plain
    // weighted groupBy + rank.
    QueryDef("q148_weighted_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select(to_date($"ts").as("day"), $"user_id",
            expr("CAST(round(value * 100, 0) AS LONG)").as("w"))
        Sketches.spaceSavingTopK(ev, Seq("day"), $"user_id", $"w",
            capacity = 4096, k = 5)
          .select($"day", $"rank", $"item".cast("long").as("user_id"),
            $"cnt".as("spend_cents"), $"err")
          .orderBy($"day", $"rank")
      },
      Some("""WITH sp AS (SELECT CAST(ts AS DATE) AS day, user_id,
            sum(CAST(round(value * 100, 0) AS BIGINT)) AS spend_cents
          FROM events WHERE round(value * 100, 0) > 0 GROUP BY 1, 2)
        SELECT day, CAST(rn AS BIGINT) AS rank, user_id,
          CAST(spend_cents AS BIGINT) AS spend_cents,
          CAST(0 AS BIGINT) AS err
        FROM (SELECT *, row_number() OVER (PARTITION BY day
                ORDER BY spend_cents DESC, CAST(user_id AS VARCHAR)) AS rn
              FROM sp)
        WHERE rn <= 5 ORDER BY day, rank""")),

    // --------------------------------------------------------------- q164
    // HyperBall 2-hop neighborhood-size estimation (Boldi-Vigna 2013) —
    // the sketches x graphs fusion that computes neighborhood functions at
    // scales where exact 2-hop closures are impossible: each node carries
    // an HLL register frame of its ball-1 members (self + neighbors); ONE
    // propagation round merges every neighbor's frame by register max
    // (one edge-keyed join + (node, bucket) max — the HyperBall
    // iteration), yielding ball-2 registers WITHOUT materializing 2-hop
    // pairs. Registers are the engine-portable md5 construction, so the
    // oracle builds the EXACT same sketch over the exact 2-hop closure
    // (register max over a union == registers of the set union) and the
    // estimates must agree to the 6-dp grid. Graph: the q163 co-engagement
    // edges.
    QueryDef("q164_hyperball_2hop",
      (s, dir) => {
        import s.implicits._
        val edges = Materialize.shared()(Graph.coEngagementEdges(t(s, dir, "events")))
        val sym = edges.select($"src".as("node"), $"dst".as("nb"))
          .union(edges.select($"dst".as("node"), $"src".as("nb")))
        val ball1 = sym.select($"node", $"node".as("item"))
          .union(sym.select($"node", $"nb".as("item")))
        // Spread of the materialized register table (r18, guide §2.5): the
        // propagation join's INPUT is small, so AQE coalesced it to 2 tasks
        // while its OUTPUT fans out to edges x 64 buckets — profiled at
        // 2.3 s in 2 tasks (13.6 MB of partial-agg output from 7.3 MB in).
        // The spread sits over the checkpoint's Scan ExistingRDD (no known
        // partitioning), so the optimizer cannot elide it.
        val r1 = Layout.spread(
          Materialize.shared()(Sketches.hllRegisters(ball1, Seq("node"), $"item", B)),
          $"node")
        val propagated = r1.union(
          sym.join(r1.withColumnRenamed("node", "nb"), "nb")
            .select($"node", $"bucket", $"register"))
          .groupBy($"node", $"bucket").agg(max($"register").as("register"))
        Sketches.hllEstimate(propagated, Seq("node"), B)
          .select($"node".as("user_id"),
            round($"hll_estimate", 6).as("est_ball2"))
          .orderBy($"user_id")
      },
      Some(s"""WITH uk AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS k,
            count(*) AS cnt FROM events GROUP BY 1, 2),
        t5 AS (SELECT user_id, k FROM (
            SELECT user_id, k, row_number() OVER (PARTITION BY user_id
              ORDER BY cnt DESC, k) AS rn FROM uk) WHERE rn <= 5),
        eg AS (SELECT a.user_id AS u, b.user_id AS v FROM t5 a
          JOIN t5 b ON a.k = b.k AND a.user_id < b.user_id
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sym AS (SELECT u AS node, v AS nb FROM eg
          UNION ALL SELECT v, u FROM eg),
        ball1 AS (SELECT node, node AS item FROM (SELECT DISTINCT node FROM sym)
          UNION SELECT node, nb FROM sym),
        ball2 AS (SELECT node, item FROM ball1
          UNION SELECT s.node, b1.item FROM sym s
            JOIN ball1 b1 ON b1.node = s.nb),
        h AS (SELECT node, ${h60Sql("CAST(item AS VARCHAR)")} AS h FROM ball2),
        hh AS (SELECT node, h & ${M - 1} AS bucket,
            CASE WHEN (h >> $B) = 0 THEN ${SuffixBits + 1}
              ELSE ${SuffixBits + 1} - length(printf('%b', h >> $B)) END AS rho
          FROM h),
        reg AS (SELECT node, bucket, max(rho) AS register
          FROM hh GROUP BY 1, 2),
        agg AS (SELECT node,
            (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
            count(*) AS c FROM reg GROUP BY 1),
        est AS (SELECT node,
            CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c FROM agg),
        fin AS (SELECT node,
            CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
              THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / ($M - c))
              ELSE raw END AS e FROM est)
        SELECT node AS user_id, round(e, 6) AS est_ball2
        FROM fin ORDER BY user_id""")),

    // --------------------------------------------------------------- q169
    // Approximate distinct from PLAIN SQL: the mergeable HLL registered as
    // a named aggregate (Sketches.HllAgg via udaf), so `GROUP BY source`
    // SQL builds the sketch the way it calls sum — and because the
    // construction is the same engine-portable md5 as q86's frame path,
    // the DuckDB oracle rebuilds the IDENTICAL registers and must land on
    // the same 6-dp estimate. The aggregator's buffer is a fixed m-byte
    // register array with elementwise-max merge, so Spark's partial
    // aggregation tree cannot perturb the result at any parallelism.
    QueryDef("q169_sql_hll_distinct",
      (s, dir) => {
        graft.GraftSql.registerAll(s, dir)
        s.sql("""WITH tok AS (SELECT source, tok FROM documents_v
              LATERAL VIEW explode(split(trim(text), '\\s+')) t AS tok
              WHERE length(tok) > 0)
          SELECT source, round(hll_distinct_12(tok), 6) AS hll_estimate
          FROM tok GROUP BY source ORDER BY source""")
      },
      Some(s"""WITH tk AS (SELECT source, token FROM ($tokSql)
            WHERE len(token) > 0),
          h AS (SELECT source, ${h60Sql("token")} AS h FROM tk),
          hh AS (SELECT source, h & ${M - 1} AS bucket,
              CASE WHEN (h >> $B) = 0 THEN ${SuffixBits + 1}
                ELSE ${SuffixBits + 1} - length(printf('%b', h >> $B)) END AS rho
            FROM h),
          reg AS (SELECT source, bucket, max(rho) AS register
            FROM hh GROUP BY 1, 2),
          agg AS (SELECT source,
              (CAST(sum(CAST(pow(2, ${SuffixBits + 1} - register) AS BIGINT)) AS DOUBLE) / pow(2, ${SuffixBits + 1})) AS s,
              count(*) AS c FROM reg GROUP BY 1),
          est AS (SELECT source,
              CAST($AlphaM2 AS DOUBLE) / (s + ($M - c)) AS raw, c FROM agg),
          fin AS (SELECT source,
              CASE WHEN raw <= CAST($LinearRangeBound AS DOUBLE) AND c < $M
                THEN CAST($M AS DOUBLE) * ln(CAST($M AS DOUBLE) / ($M - c))
                ELSE raw END AS e FROM est)
        SELECT source, round(e, 6) AS hll_estimate
        FROM fin ORDER BY source"""))
  )

  // Histogram shape for q95: 16-char cells, 256 buckets (4 KB of longs per
  // source — mergeable across shards by summing)
  private val HistW = 16.0
  private val HistB = 256
}
