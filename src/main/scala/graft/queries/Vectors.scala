package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Materialize, Similarity}

/** Similarity search over the `embeddings` fixture. Exact variants are
  * oracle-checked with explicit index-ordered double arithmetic on both
  * sides (identical products, similarities rounded to 6 dp before ranking so
  * ordering is engine-independent). LSH variants are rows-only checked here
  * and recall-tested in SimilaritySpec.
  */
object Vectors extends QueryModule {

  /** DuckDB: index-ordered double dot product of two list columns. */
  private def dotSql(a: String, b: String) =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"""

  private def cosineSql(a: String, b: String) =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  def defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q40
    // Brute-force cosine top-k against one query vector: broadcast + map +
    // global top-k; the baseline every ANN variant is judged against.
    QueryDef("q40_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 20)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, ${cosineSql("embedding", "qv")} AS sim
        FROM embeddings, q ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ---------------------------------------------------------------- q41
    // Exact k-NN join: 5 query vectors x corpus, top-3 each.
    QueryDef("q41_knn_join",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        Similarity.knnJoin(emb, emb.filter($"vec_id" < 5), k = 3)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                          FROM embeddings WHERE vec_id < 5),
        scored AS (SELECT query_id, e.vec_id AS neighbor_id,
            ${cosineSql("e.embedding", "qv")} AS sim
          FROM embeddings e, q WHERE e.vec_id <> query_id),
        ranked AS (SELECT query_id, neighbor_id, sim,
            CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    // ---------------------------------------------------------------- q42
    // Per-label embedding stats (norms via index-ordered fold).
    QueryDef("q42_vector_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "embeddings")
          .select($"label", VectorFunctions.norm($"embedding").as("nrm"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"), round(avg($"nrm"), 6).as("avg_norm"))
          .orderBy($"label")
      },
      Some(s"""SELECT label, count(*) AS n,
        round(avg(sqrt(${dotSql("embedding", "embedding")})), 6) AS avg_norm
        FROM embeddings GROUP BY label ORDER BY label""")),

    // ---------------------------------------------------------------- q43
    // Cosine similarity on adjacent-id pairs (linear, oracle-able).
    QueryDef("q43_cosine_pairs",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        e.as("a").join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
            round(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6)
              .as("sim"))
          .orderBy($"id_a")
      },
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${cosineSql("a.embedding", "b.embedding")} AS sim
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        ORDER BY id_a""")),

    // ---------------------------------------------------------------- q44
    // LSH-bucketed approximate k-NN (the 100 TB scale path: hash-partitioned
    // multi-table bucket join, no cartesian; bucket count auto-scales with
    // the corpus so within-bucket work stays linear).
    //
    // Self-verifying contract (the xxhash64 buckets have no DuckDB
    // equivalent, but the output's invariants do): every returned neighbor's
    // similarity must equal the exact cosine recomputed from the embeddings,
    // no self-matches, and ranks must be the dense (sim desc, neighbor_id)
    // sequence within each query. The query emits the violation count — the
    // oracle checks it is exactly 0. Recall-vs-exact is pinned separately in
    // SimilaritySpec (on the uniform-random fixture recall tracks the probed
    // fraction, which by design shrinks as buckets scale with the corpus, so
    // a fixed recall bound would pin the fixture, not the operator).
    QueryDef("q44_lsh_knn",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val res = Similarity.lshKnnJoin(emb, emb.filter($"vec_id" < 5), k = 3)
        annContract(res, emb)
      },
      Some(annContractOracle)),

    // ---------------------------------------------------------------- q53
    // IVF approximate k-NN: coarse-quantizer cells (fixed centroid cap) +
    // nProbe probing — candidates shrink to ~ corpus * nProbe / C instead of
    // the whole corpus. Same self-verifying contract as q44.
    QueryDef("q53_ivf_knn",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val res = Similarity.ivfKnnJoin(emb, emb.filter($"vec_id" < 5), k = 3, nProbe = 3)
        annContract(res, emb)
      },
      Some(annContractOracle)),

    // --------------------------------------------------------------- q149
    // IVF-PQ with asymmetric-distance re-ranking: the ANN memory path —
    // corpus vectors live in the index as m=8 residual-codebook BYTES
    // (32x smaller than fp32 at d=64), candidates score via per-query
    // lookup tables (m adds per pair), and the ADC shortlist re-ranks
    // against fetched fp32 vectors. The annContract makes the re-rank
    // guarantee checkable: every returned sim must equal the exact
    // recomputed cosine (so PQ approximation provably never leaks into
    // returned scores or their order), no self-matches, dense ranks.
    QueryDef("q149_ivfpq_knn",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val res = Similarity.ivfPqKnnJoin(emb, emb.filter($"vec_id" < 5), k = 3,
          nProbe = 3, rerank = 12)
        annContract(res, emb)
      },
      Some(annContractOracle)),

    // --------------------------------------------------------------- q158
    // Incremental ANN index maintenance — the production pattern for a
    // GROWING corpus: the day-1 IVF-PQ index is trained, encoded, and
    // persisted ONCE; day-2 vectors are encoded with the LOADED model
    // (quantizers frozen — the serving invariant) and their codes simply
    // append to the index frame. Day 1 is never re-trained or re-encoded.
    // Two pins: (1) the shared annContract on the merged-index search
    // (exact re-ranked sims, no self-matches, dense ranks), and (2)
    // append-equivalence — searching the appended index returns EXACTLY
    // what a whole-corpus re-encode under the same model returns (encoding
    // is a deterministic per-row function of the frozen model, so
    // append ≡ rebuild; `append_mismatch` counts the symmetric difference,
    // pinned 0). At 100 TB this is the difference between a nightly
    // map-only encode of the new shard and a full-corpus rebuild.
    // r14: the index is built on PCA-ROTATED vectors (the OPQ-lite basis,
    // see q194) and the rotation model persists ALONGSIDE the PQ model —
    // the contract now also proves the day-2 ingest path reconstructs the
    // exact serving basis from storage.
    QueryDef("q158_ivfpq_incremental",
      (s, dir) => {
        import s.implicits._
        val raw = t(s, dir, "embeddings")
        val day1Raw = raw.filter($"vec_id" % 2 === 0)
        val day2Raw = raw.filter($"vec_id" % 2 === 1)
        // The index's basis: the PCA rotation fitted on day 1 (day 2
        // doesn't exist yet — the frozen-quantizer serving invariant
        // applies to the basis too). It PERSISTS ALONGSIDE the PQ model:
        // a serving session that loaded the codes without the basis would
        // encode day-2 vectors and queries in the wrong coordinate system
        // and silently return garbage — the append-equivalence pin below
        // would catch exactly that.
        val wm = Similarity.fitWhitening(day1Raw)
        // app-id-suffixed scratch dir (no cross-process race; deleted at
        // JVM exit so runs don't leak parquet into tmpdir — see TempStores)
        val store = graft.sources.TempStores.scratch(s, "graft_q158_ivfpq")
        Similarity.saveWhitening(s, wm, s"$store/whitening")
        val day1 = Similarity.rotateForAnn(day1Raw, wm)
        val mdl = Similarity.trainIvfPq(day1)
        Similarity.saveIvfPqIndex(mdl, Similarity.encodeIvfPq(day1, mdl), store)
        // serving session: load BOTH artifacts; everything downstream uses
        // only the loaded copies (doubles round-trip parquet exactly, so
        // append-vs-rebuild equality holds bit-for-bit)
        val (loaded, day1Codes) = Similarity.loadIvfPqIndex(s, store)
        val wmLoaded = Similarity.loadWhitening(s, s"$store/whitening")
        val rotAll = Similarity.rotateForAnn(raw, wmLoaded)
        val merged = day1Codes.unionByName(
          Similarity.encodeIvfPq(Similarity.rotateForAnn(day2Raw, wmLoaded), loaded))
        val queries = rotAll.filter($"vec_id" < 5)
        val incr = Similarity.ivfPqSearch(merged, rotAll, queries, k = 3,
          loaded, nProbe = 3, rerank = 12)
        // append ≡ rebuild is pinned at the INDEX level: each vector's
        // (cell, codes) row from the appended index must equal the
        // whole-corpus re-encode under the same frozen model. Search is a
        // deterministic function of (codes, model, queries), so code-frame
        // equality implies search equality without paying a second search.
        val rebuilt = Similarity.encodeIvfPq(rotAll, loaded)
        val mismatch = merged.as("m")
          .join(rebuilt.as("r"), Seq("neighbor_id"), "full_outer")
          .filter(col("m.cell").isNull || col("r.cell").isNull ||
            col("m.cell") =!= col("r.cell") || col("m.codes") =!= col("r.codes"))
        annContract(incr, rotAll)
          .crossJoin(mismatch.agg(count(lit(1)).as("append_mismatch")))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS violations, true AS found_neighbors,
        CAST(0 AS BIGINT) AS append_mismatch""")),

    // ---------------------------------------------------------------- q74
    // Per-row symmetric int8 quantization profile: maxabs -> scale =
    // 127/maxabs -> per-element round -> reconstruction RMSE. The storage
    // step of an embedding pipeline (4x smaller vectors), and fully
    // oracle-able because every reduction is a PER-ROW index-ordered fold
    // (deterministic in both engines, unlike cross-row float sums). The
    // scale is computed once in a prior projection so the lambdas capture a
    // plain column, not a re-evaluated subtree. Both engines round ties
    // half-away-from-zero.
    QueryDef("q74_embedding_quantize",
      (s, dir) => {
        import s.implicits._
        val withScale = t(s, dir, "embeddings")
          .select($"vec_id", transform($"embedding", v => v.cast("double")).as("xd"))
          .withColumn("maxabs",
            aggregate($"xd", lit(0.0), (acc, v) => greatest(acc, abs(v))))
          .withColumn("scale", when($"maxabs" > 0, lit(127.0) / $"maxabs"))
        withScale.select($"vec_id",
            size($"xd").as("n_dims"),
            round($"maxabs", 6).as("maxabs"),
            round(when($"scale".isNotNull,
              sqrt(aggregate(
                zip_with($"xd", transform($"xd", v => round(v * $"scale", 0)),
                  (a, q) => (a - q / $"scale") * (a - q / $"scale")),
                lit(0.0), (acc, e) => acc + e) / size($"xd")))
              .otherwise(0.0), 6).as("rmse_int8"))
          .orderBy($"vec_id")
      },
      Some("""WITH b AS (SELECT vec_id,
            list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
          FROM embeddings),
        m AS (SELECT vec_id, xd,
          COALESCE(list_aggregate(list_transform(xd, v -> abs(v)), 'max'), 0.0) AS maxabs
          FROM b),
        sc AS (SELECT vec_id, xd, maxabs,
          CASE WHEN maxabs > 0 THEN CAST(127.0 AS DOUBLE) / maxabs END AS scale
          FROM m)
        SELECT vec_id, CAST(len(xd) AS INTEGER) AS n_dims,
          round(maxabs, 6) AS maxabs,
          round(CASE WHEN scale IS NOT NULL THEN
            sqrt(list_aggregate(list_transform(xd,
              v -> (v - round(v * scale) / scale) * (v - round(v * scale) / scale)),
              'sum') / len(xd))
          ELSE 0.0 END, 6) AS rmse_int8
        FROM sc ORDER BY vec_id""")),

    // ---------------------------------------------------------------- q45
    // Embedding-cosine near-duplicate pairs via corpus-scaled LSH buckets.
    // Threshold calibrated to the fixture's cosine distribution (max
    // pairwise sim at sf0.01 is ~0.513, p99.9 ~0.377): 0.35 yields a
    // meaningful but selective near-dup set.
    //
    // Self-verifying contract: pairs must be strictly ordered (id_a < id_b),
    // at-or-above threshold, and carry the exact recomputed cosine; emits
    // (pairs_found > 0 sanity flag, violations) with violations
    // oracle-checked to 0. The pair COUNT itself is not oracle-predictable
    // without the O(n^2) all-pairs scan the operator exists to avoid;
    // subset-of-truth is pinned in SimilaritySpec.
    QueryDef("q45_embedding_neardups",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val thr = 0.35
        val nd = Similarity.embeddingNearDups(emb, threshold = thr)
        val withExact = nd
          .join(emb.select($"vec_id".as("id_a"), $"embedding".as("va")), "id_a")
          .join(emb.select($"vec_id".as("id_b"), $"embedding".as("vb")), "id_b")
          .withColumn("exact_sim",
            round(VectorFunctions.cosine($"va", $"vb"), 6))
        withExact.agg(
          (count_if($"id_a" >= $"id_b") +
            count_if($"sim" < thr) +
            count_if(abs($"sim" - $"exact_sim") > 1e-9)).as("violations"),
          (count(lit(1)) > 0L).as("found_pairs"))
      },
      Some("SELECT CAST(0 AS BIGINT) AS violations, true AS found_pairs")),

    // ---------------------------------------------------------------- q76
    // Semantic dedup (SemDeDup-style): Lloyd-trained IVF cells + within-cell
    // exact cosine — the embedding-space member of the dedup ladder
    // (exact → n-gram → passage → semantic).
    //
    // Bounded-exhaustive contract, the fixed-q69 form: `exhaustive_pairs`
    // (the compared, data-dependent quantity) is the SAME bounded all-pairs
    // round-6 cosine count on BOTH sides — the cell-bucketed operator is
    // never hash-compared against an exhaustive oracle. The operator under
    // test contributes the two guarantee-backed pins: `subset_violations`
    // = 0 (every operator pair re-derives from the exhaustive set — exact
    // within-cell cosine makes precision 1.0 structural) and
    // `missed_planted` = 0 (25 planted IDENTICAL copies, vec_id+100000;
    // identical vectors take the same deterministic argmin cell, so
    // exact-duplicate recall is 1.0 by construction, not by fixture luck).
    // Boundary-straddling NEAR-pairs are the accepted SemDeDup recall trade
    // and deliberately NOT pinned; recall on a clustered fixture is
    // SimilaritySpec's job.
    QueryDef("q76_semantic_dedup",
      (s, dir) => {
        import s.implicits._
        val thr = 0.35
        val base = t(s, dir, "embeddings").filter($"vec_id" < 300)
          .select($"vec_id", $"embedding")
        val planted = base.filter($"vec_id" < 25)
          .select(($"vec_id" + lit(100000L)).as("vec_id"), $"embedding")
        val u = base.union(planted)
        val nd = Similarity.semanticNearDups(u, threshold = thr, nCells = 8,
          trainIterations = 2, corpusSize = 325, maxCell = 0)
          .select($"id_a", $"id_b")
        val v = u.select($"vec_id".cast("long").as("id"),
            $"embedding".cast("array<float>").as("vec"))
          .withColumn("vec_nrm", VectorFunctions.norm($"vec"))
        val ex = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            round(VectorFunctions.dot(col("a.vec"), col("b.vec")) /
              (col("a.vec_nrm") * col("b.vec_nrm")), 6).as("ex_sim"))
          .filter($"ex_sim" >= thr)
          .select($"id_a", $"id_b")
        val plantedPairs = base.filter($"vec_id" < 25)
          .select($"vec_id".cast("long").as("id_a"),
            ($"vec_id" + lit(100000L)).cast("long").as("id_b"))
        ex.agg(count(lit(1)).as("exhaustive_pairs"))
          .crossJoin(nd.join(ex, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).as("subset_violations")))
          .crossJoin(plantedPairs.join(nd, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).as("missed_planted")))
          .crossJoin(nd.agg((count(lit(1)) > 0L).as("found_pairs")))
      },
      Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < 300),
        u AS (SELECT vec_id, embedding FROM base
          UNION ALL
          SELECT vec_id + 100000, embedding FROM base WHERE vec_id < 25),
        jp AS (SELECT ${cosineSql("a.embedding", "b.embedding")} AS sim
          FROM u a JOIN u b ON a.vec_id < b.vec_id)
        SELECT CAST(count_if(sim >= CAST(0.35 AS DOUBLE)) AS BIGINT) AS exhaustive_pairs,
          CAST(0 AS BIGINT) AS subset_violations,
          CAST(0 AS BIGINT) AS missed_planted,
          CAST(1 AS BOOLEAN) AS found_pairs
        FROM jp""")),

    // --------------------------------------------------------------- q108
    // Per-dimension embedding statistics — the embedding-QA scan (dead
    // dimensions, mean drift, outlier ranges) run before any ANN index
    // build. posexplode fans each vector into (dim, value); one map-side-
    // combined groupBy over at most `dim` keys — the shuffle carries
    // d partial aggregates per task, not corpus rows, so this is flat-cost
    // at 100 TB. Values aggregate as DOUBLE (float sums drift; double sums
    // of float inputs round-trip deterministically at round-6).
    QueryDef("q108_dim_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "embeddings")
          .select(posexplode($"embedding").as(Seq("dim", "v")))
          .select($"dim".cast("long").as("dim"), $"v".cast("double").as("v"))
          .groupBy($"dim")
          .agg(count(lit(1)).as("n"),
            round(avg($"v"), 6).as("avg_v"),
            round(min($"v"), 6).as("min_v"),
            round(max($"v"), 6).as("max_v"))
          .orderBy($"dim")
      },
      Some("""WITH x AS (SELECT unnest(range(0, len(embedding))) AS dim,
            unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS v
          FROM embeddings)
        SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
          round(avg(v), 6) AS avg_v, round(min(v), 6) AS min_v,
          round(max(v), 6) AS max_v
        FROM x GROUP BY 1 ORDER BY dim""")),

    // --------------------------------------------------------------- q113
    // Quantization-aware retrieval eval: recall@10 of int8-quantized cosine
    // (q74's symmetric per-vector scheme — scale cancels in the cosine, so
    // the quantized similarity is just cosine over the rounded int vectors)
    // against full-precision cosine, per query. The pre-deployment check
    // for any memory-compressed ANN serving tier. Both rankings are
    // computed on ONE scored frame (two window ranks, one shuffle by
    // query_id), and overlap is counted on the row itself (both ranks
    // <= k), so there is no rank-set self-join. Similarities round to 6 dp
    // BEFORE ranking, ids break ties — engine-independent order.
    QueryDef("q113_quantized_recall",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Norms are per-ROW quantities: computing them inside the pair
        // join (as the first version's HOF cos() did) re-derives each
        // vector's self-dot once per PAIR — |Q|x redundant work. They
        // precompute here, and every dot product runs through the native
        // codegen DoubleDot kernel (the interpreted HOF fold was the
        // dominant cost term: 3.2 s -> sub-second at sf0.1). Accumulation
        // order matches the HOF form and the oracle exactly.
        import org.apache.spark.sql.graft.VectorExpressions.doubleDot
        val base = t(s, dir, "embeddings")
          .select($"vec_id", transform($"embedding", v => v.cast("double")).as("xd"))
          .withColumn("maxabs",
            aggregate($"xd", lit(0.0), (a, v) => greatest(a, abs(v))))
          .withColumn("qx", when($"maxabs" > 0,
              transform($"xd", v => round(v * (lit(127.0) / $"maxabs"), 0)))
            .otherwise(transform($"xd", v => lit(0.0))))
          .withColumn("n_xd", doubleDot($"xd", $"xd"))
          .withColumn("n_qx", doubleDot($"qx", $"qx"))
          .select($"vec_id", $"xd", $"qx", $"n_xd", $"n_qx")
        val q = base.filter($"vec_id" < 25)
          .select($"vec_id".as("query_id"), $"xd".as("q_xd"), $"qx".as("q_qx"),
            $"n_xd".as("qn_xd"), $"n_qx".as("qn_qx"))
        def cos(d: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
            nb: org.apache.spark.sql.Column) =
          when(na > 0 && nb > 0, round(d / (sqrt(na) * sqrt(nb)), 6))
            .otherwise(lit(0.0))
        val scored = base.join(q, $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            cos(doubleDot($"xd", $"q_xd"), $"n_xd", $"qn_xd").as("sim_exact"),
            cos(doubleDot($"qx", $"q_qx"), $"n_qx", $"qn_qx").as("sim_quant"))
        val wE = Window.partitionBy($"query_id").orderBy($"sim_exact".desc, $"neighbor_id")
        val wQ = Window.partitionBy($"query_id").orderBy($"sim_quant".desc, $"neighbor_id")
        val ranked = scored
          .withColumn("rank_exact", row_number().over(wE))
          .withColumn("rank_quant", row_number().over(wQ))
        val overlap = ranked.filter($"rank_exact" <= 10 && $"rank_quant" <= 10)
          .groupBy($"query_id").agg(count(lit(1)).as("overlap"))
        q.select($"query_id").join(overlap, Seq("query_id"), "left")
          .select($"query_id",
            coalesce($"overlap", lit(0L)).as("overlap"),
            round(coalesce($"overlap", lit(0L)).cast("double") / 10.0, 6)
              .as("recall_at_10"))
          .orderBy($"query_id")
      },
      Some {
        def dotd(a: String, b: String) =
          s"""list_aggregate(list_transform(range(1, len($a) + 1),
              i -> $a[i] * $b[i]), 'sum')"""
        def cosd(a: String, b: String) =
          s"""CASE WHEN ${dotd(a, a)} > 0 AND ${dotd(b, b)} > 0
              THEN round(${dotd(a, b)} / (sqrt(${dotd(a, a)}) * sqrt(${dotd(b, b)})), 6)
              ELSE 0.0 END"""
        s"""WITH b AS (SELECT vec_id,
              list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
            FROM embeddings),
          m AS (SELECT vec_id, xd,
            COALESCE(list_aggregate(list_transform(xd, v -> abs(v)), 'max'), 0.0)
              AS maxabs FROM b),
          qv AS (SELECT vec_id, xd,
            CASE WHEN maxabs > 0
              THEN list_transform(xd, v -> round(v * (127.0 / maxabs)))
              ELSE list_transform(xd, v -> 0.0) END AS qx
            FROM m),
          qq AS (SELECT vec_id AS query_id, xd AS q_xd, qx AS q_qx
            FROM qv WHERE vec_id < 25),
          sc AS (SELECT query_id, e.vec_id AS neighbor_id,
              ${cosd("e.xd", "q_xd")} AS sim_exact,
              ${cosd("e.qx", "q_qx")} AS sim_quant
            FROM qv e JOIN qq ON e.vec_id <> query_id),
          rk AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim_exact DESC, neighbor_id) AS re,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim_quant DESC, neighbor_id) AS rq
            FROM sc),
          ov AS (SELECT query_id, count(*) AS overlap FROM rk
            WHERE re <= 10 AND rq <= 10 GROUP BY 1)
        SELECT query_id, CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap,
          round(CAST(COALESCE(overlap, 0) AS DOUBLE) / 10.0, 6) AS recall_at_10
        FROM (SELECT DISTINCT query_id FROM qq) q LEFT JOIN ov USING (query_id)
        ORDER BY query_id"""
      }),

    // --------------------------------------------------------------- q125
    // Label-centroid separation diagnostics: per label, member count, mean
    // distance to the own-label centroid (cohesion), the nearest other
    // centroid and its distance, and the inter/intra ratio — the
    // embedding-quality gate before trusting vectors for semantic dedup or
    // retrieval. Centroids snap to the 6-dp grid BEFORE distances are
    // measured so both engines subtract identical coordinates; member
    // distances compute in-row against a broadcast centroid-array table
    // (no N x dims shuffle); per-member distances round then accumulate as
    // exact DECIMAL. The oracle recomputes from the exploded join.
    QueryDef("q125_label_separation",
      (s, dir) => {
        import s.implicits._
        Similarity.labelCentroidStats(t(s, dir, "embeddings"))
          .orderBy($"label")
      },
      Some("""WITH pt AS (SELECT label, vec_id,
            unnest(range(0, len(embedding))) AS dim,
            unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
          FROM embeddings),
        cent AS (SELECT label, dim, round(avg(v), 6) AS c
          FROM pt GROUP BY 1, 2),
        d AS (SELECT pt.label, pt.vec_id,
            round(sqrt(sum((pt.v - cent.c) * (pt.v - cent.c))), 6) AS d
          FROM pt JOIN cent ON pt.label = cent.label AND pt.dim = cent.dim
          GROUP BY 1, 2),
        intra AS (SELECT label, count(*) AS n_points,
            round(CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
              AS intra_mean_dist
          FROM d GROUP BY 1),
        cp AS (SELECT a.label AS la, b.label AS lb,
            round(sqrt(sum((a.c - b.c) * (a.c - b.c))), 6) AS cd
          FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
          GROUP BY 1, 2),
        near AS (SELECT la, lb, cd, row_number() OVER (PARTITION BY la
            ORDER BY cd, lb) AS rn FROM cp)
        SELECT i.label, CAST(n_points AS BIGINT) AS n_points, intra_mean_dist,
          n.lb AS nearest_label, n.cd AS inter_dist,
          round(n.cd / intra_mean_dist, 6) AS separation
        FROM intra i JOIN near n ON n.la = i.label AND n.rn = 1
        ORDER BY i.label""")),

    // --------------------------------------------------------------- q126
    // Metadata-filtered kNN: top-k cosine neighbors restricted to the
    // candidates passing a relational predicate (here: the document's
    // language) — filtered vector search, the retrieval shape every RAG
    // serving tier runs ("nearest English docs"). The filter applies
    // BEFORE the similarity search (pre-filtering), so k survivors are
    // guaranteed — post-filtering an unfiltered top-k can return < k. The
    // candidate restriction is one keyed semi-join against the filtered
    // dimension; at 100 TB the same shape drops onto the IVF index by
    // intersecting the filter with each probed cell's members.
    QueryDef("q126_filtered_knn",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val en = t(s, dir, "documents").filter($"lang" === "en")
          .select($"doc_id".as("vec_id"))
        Similarity.knnJoin(emb.join(en, "vec_id"),
            emb.filter($"vec_id" < 20), k = 5)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH en AS (SELECT doc_id AS vec_id FROM documents
              WHERE lang = 'en'),
        c AS (SELECT e.vec_id, e.embedding FROM embeddings e
              JOIN en USING (vec_id)),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 20),
        scored AS (SELECT query_id, c.vec_id AS neighbor_id,
            ${cosineSql("c.embedding", "qv")} AS sim
          FROM c, q WHERE c.vec_id <> query_id),
        ranked AS (SELECT query_id, neighbor_id, sim,
            CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, sim, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --------------------------------------------------------------- q127
    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    // each query document retrieves top-20 by embedding cosine AND top-20
    // by lexical overlap (shared distinct tokens), and the two rankings
    // fuse as score = Σ 1/(60 + rank) over the lists containing the
    // candidate; top-5 fused survive. The standard dense+sparse serving
    // recipe — RRF needs only ranks, so the two retrievers' incomparable
    // scores never mix. Lexical candidates come from a token-keyed join
    // (posting-list shape, not all-pairs; production adds a df cap on the
    // hottest terms — the same degenerate-bucket lever as LSH); vector
    // candidates broadcast the bounded query side. Absent ranks encode as
    // 0 (not NULL) so the fused frame stays total and engine-comparable.
    QueryDef("q127_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents")
        val withEmb = docs.join(emb.select($"vec_id".as("doc_id")), "doc_id")
        val nQ = 20
        val topN = 20
        val vecTop = Similarity.knnJoin(
            emb.join(withEmb.select($"doc_id".as("vec_id")), "vec_id"),
            emb.filter($"vec_id" < nQ), k = topN)
          .select($"query_id", $"neighbor_id", $"rank".as("vec_rank"))
        val toks = withEmb
          .select($"doc_id", explode(array_distinct(
            filter(TextFunctions.tokens($"text"), x => length(x) > 0)))
            .as("tok"))
        val qToks = toks.filter($"doc_id" < nQ)
          .select($"doc_id".as("query_id"), $"tok")
        val overlap = toks.join(qToks, "tok")
          .filter($"doc_id" =!= $"query_id")
          .groupBy($"query_id", $"doc_id")
          .agg(count(lit(1)).as("overlap"))
        val lexTop = overlap
          .withColumn("lex_rank", row_number().over(
            Window.partitionBy($"query_id")
              .orderBy($"overlap".desc, $"doc_id")))
          .filter($"lex_rank" <= topN)
          .select($"query_id", $"doc_id".as("neighbor_id"), $"lex_rank")
        val fused = vecTop.join(lexTop, Seq("query_id", "neighbor_id"),
            "full_outer")
          .select($"query_id", $"neighbor_id",
            coalesce($"vec_rank", lit(0)).cast("long").as("vec_rank"),
            coalesce($"lex_rank", lit(0)).cast("long").as("lex_rank"))
          .withColumn("rrf_score", round(
            when($"vec_rank" > 0, lit(1.0) / ($"vec_rank" + 60)).otherwise(0.0) +
              when($"lex_rank" > 0, lit(1.0) / ($"lex_rank" + 60)).otherwise(0.0),
            6))
        fused.withColumn("rank", row_number().over(
            Window.partitionBy($"query_id")
              .orderBy($"rrf_score".desc, $"neighbor_id")))
          .filter($"rank" <= 5)
          .select($"query_id", $"neighbor_id", $"vec_rank", $"lex_rank",
            $"rrf_score", $"rank")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH we AS (SELECT d.doc_id, d.text FROM documents d
              JOIN embeddings e ON e.vec_id = d.doc_id),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 20),
        vsc AS (SELECT query_id, e.vec_id AS neighbor_id,
            ${cosineSql("e.embedding", "qv")} AS sim
          FROM (SELECT e0.vec_id, e0.embedding FROM embeddings e0
                JOIN we ON we.doc_id = e0.vec_id) e, q
          WHERE e.vec_id <> query_id),
        vtop AS (SELECT query_id, neighbor_id, vr AS vec_rank FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS vr
            FROM vsc) WHERE vr <= 20),
        tk AS (SELECT doc_id, unnest(list_distinct(list_filter(
            string_split_regex(trim(text), '\\s+'), x -> len(x) > 0))) AS tok
          FROM we),
        ov AS (SELECT qt.doc_id AS query_id, tk.doc_id, count(*) AS overlap
          FROM tk JOIN (SELECT * FROM tk WHERE doc_id < 20) qt USING (tok)
          WHERE tk.doc_id <> qt.doc_id GROUP BY 1, 2),
        ltop AS (SELECT query_id, doc_id AS neighbor_id, lr AS lex_rank FROM (
            SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
              ORDER BY overlap DESC, doc_id) AS lr FROM ov) WHERE lr <= 20),
        fused AS (SELECT COALESCE(v.query_id, l.query_id) AS query_id,
            COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
            CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
            CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank
          FROM vtop v FULL OUTER JOIN ltop l
            ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id),
        sc AS (SELECT *, round(
            (CASE WHEN vec_rank > 0 THEN 1.0 / (vec_rank + 60) ELSE 0.0 END) +
            (CASE WHEN lex_rank > 0 THEN 1.0 / (lex_rank + 60) ELSE 0.0 END), 6)
            AS rrf_score FROM fused),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, neighbor_id) AS INTEGER) AS rank FROM sc)
        SELECT query_id, neighbor_id, vec_rank, lex_rank, rrf_score, rank
        FROM rk WHERE rank <= 5 ORDER BY query_id, rank""")),

    // --------------------------------------------------------------- q193
    // PCA whitening as a self-verifying contract (the q44/q53 pattern for
    // internals DuckDB cannot recompute — a Jacobi eigensolve): fit on the
    // corpus (ONE treeAggregate pass -> d x d driver summary), whiten (one
    // broadcast-model map pass), then FIT AGAIN on the whitened output —
    // the second fit's eigenvalues must all be 1 and its mean all 0 within
    // tolerance, which is the definition of whitening, verified by the
    // same distributed pass that fitted it. The oracle pins the constants.
    QueryDef("q193_pca_whitening",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val mdl = Similarity.fitWhitening(emb)
        val wdf = Similarity.whiten(emb, mdl)
        val chk = Similarity.fitWhitening(wdf, vecCol = "whitened")
        // The re-fit's eigenvalues are exactly lambda/(lambda+eps) of the
        // first fit's (eps-regularized scaling), which approaches 1 only
        // when lambda >> eps — compare against that closed form rather
        // than 1.0 so the contract holds for any embedding fixture,
        // including near-zero-variance directions where lambda/(lambda+eps)
        // is legitimately far from 1.
        val expectedEig = mdl.eigenvalues.map { l0 =>
          val l = math.max(l0, 0.0); l / (l + 1e-6)
        }
        val eigViolations = chk.eigenvalues.zip(expectedEig)
          .count { case (e, x) => math.abs(e - x) > 1e-3 }.toLong
        val meanViolations =
          chk.mean.count(m => math.abs(m) > 1e-3).toLong
        wdf.agg(count(lit(1)).as("n"))
          .select($"n", lit(64L).as("d"),
            lit(eigViolations).as("eig_violations"),
            lit(meanViolations).as("mean_violations"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n, CAST(64 AS BIGINT) AS d,
          CAST(0 AS BIGINT) AS eig_violations,
          CAST(0 AS BIGINT) AS mean_violations
        FROM embeddings""")),

    // --------------------------------------------------------------- q194
    // Whitening feeding the ANN index (r13 verdict #3 — q193's model put
    // to work): IVF-PQ built and served in the PCA-ROTATED basis. The
    // rotation (orthonormal Vᵀ, no centering, no λ-scaling, dims permuted
    // by OPQ eigenvalue allocation so each subspace gets a balanced
    // variance share) preserves cosine EXACTLY, so the index answers the
    // same question — but PQ subquantizers now cut decorrelated,
    // variance-balanced coordinate blocks, the OPQ-lite
    // quantization-error win the bench's `ivf_pq_whitened` grid entry
    // measures as recall (+0.006..+0.010 at every rerank budget even on
    // the near-isotropic synthetic fixture, spectrum 0.011-0.021). Two pins: the shared annContract in
    // the index's own basis (exact re-ranked sims, no self matches, dense
    // ranks), and `rotation_drift` — every returned sim must equal the
    // ORIGINAL-space cosine within float tolerance, which is the
    // metric-preservation claim made checkable (full whitening would fail
    // this pin; the rotation passes it by construction).
    QueryDef("q194_whitened_ivfpq",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val wm = Similarity.fitWhitening(emb)
        val rot = Materialize.shared()(Similarity.rotateForAnn(emb, wm))
        val res = Similarity.ivfPqKnnJoin(rot, rot.filter($"vec_id" < 5),
          k = 3, nProbe = 3, rerank = 12)
        val drift = res
          .join(emb.select($"vec_id".as("query_id"), $"embedding".as("oq")),
            "query_id")
          .join(emb.select($"vec_id".as("neighbor_id"), $"embedding".as("ov")),
            "neighbor_id")
          .agg(count_if(
            abs($"sim" - round(VectorFunctions.cosine($"oq", $"ov"), 6)) > 1e-4)
            .as("rotation_drift"))
        annContract(res, rot).crossJoin(drift)
      },
      Some("""SELECT CAST(0 AS BIGINT) AS violations, true AS found_neighbors,
          CAST(0 AS BIGINT) AS rotation_drift"""))
  )

  /** Shared ANN output contract: recomputed-exact similarity, no self
    * matches, dense correct ranks. One row, violation count 0. */
  private def annContract(
      res: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withExact = res
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .withColumn("exact_sim", round(VectorFunctions.cosine(col("qv"), col("nv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    withExact
      .withColumn("rerank", row_number().over(w))
      .agg(
        (count_if(col("neighbor_id") === col("query_id")) +
          count_if(abs(col("sim") - col("exact_sim")) > 1e-9) +
          count_if(col("rerank") =!= col("rank"))).as("violations"),
        (count(lit(1)) > 0L).as("found_neighbors"))
  }

  private val annContractOracle =
    "SELECT CAST(0 AS BIGINT) AS violations, true AS found_neighbors"
}
