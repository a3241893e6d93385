package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design: `bruteForceTopK` against a SINGLE query vector is a
  * broadcast + map + global top-k — fully parallel, no shuffle until the
  * final k-row reduction. `knnJoin` (queries x corpus) broadcasts the small
  * query side; cost is |Q| x |corpus| dot products, the honest baseline.
  * `lshTopK` is the scale path: random-hyperplane buckets cut the candidate
  * set to one bucket per query (tunable recall via nPlanes/probes).
  */
object Similarity {

  /** Exact top-k by cosine against one query vector (given as a DataFrame
    * with a single row / `embedding` column). Rounded similarity + id as the
    * ranking key keeps results deterministic across engines and runs. */
  def bruteForceTopK(
      corpus: DataFrame,
      query: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("query_vec"),
      norm(col(vecCol)).as("query_nrm")))
    corpus.crossJoin(q)
      .select(col(idCol),
        round(dot(col(vecCol), col("query_vec")) / (norm(col(vecCol)) * col("query_nrm")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact k-NN join: top-k corpus neighbors for every query row.
    * Query side is broadcast; ranking via window per query id. */
  def knnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      norm(col(vecCol)).as("query_nrm")))
    val scored = corpus
      .withColumn("corpus_nrm", norm(col(vecCol))) // once per corpus row, not per pair
      .crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(dot(col(vecCol), col("query_vec")) / (col("corpus_nrm") * col("query_nrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Planes scaled so expected bucket occupancy ~= targetBucketSize:
    * buckets ~= n / target, so the within-bucket join stays LINEAR in n
    * (n * target pairs) instead of O(n^2 / 2^constant). */
  def autoPlanes(corpusSize: Long, targetBucketSize: Int = 64): Int =
    math.max(2, math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize)) / math.log(2.0)).toInt)

  private def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head.getInt(0)

  // Callers that invoke an ANN operator repeatedly should pass corpusSize /
  // dim explicitly: the auto-detection below is cheap (a count over parquet
  // footers + a 1-row head) but each is still an extra Spark job per call.
  private def sizeOf(df: DataFrame, given: Long): Long =
    if (given > 0) given else df.count()
  private def dimOf(df: DataFrame, vecCol: String, given: Int): Int =
    if (given > 0) given else vecDim(df, vecCol)

  /** One (table, bucket) row per input vector per hash table — plus, when
    * `probes > 0`, the Hamming-1 PROBE buckets (the table's bucket with one
    * sign bit flipped, bits 0..probes-1). Multi-table banding: a true
    * neighbor missed by one table's buckets is caught by another — recall
    * grows with `tables` at linear (not quadratic) cost. Multi-probing (Lv
    * et al., VLDB 2007) is the cheaper recall lever: a near neighbor that
    * lands one sign-flip away — the dominant miss mode, since a near-equal
    * projection sits close to SOME plane — is reached WITHOUT another full
    * hash table, and only the (small) probing side fans out.
    *
    * The per-table bucket is aliased through its own projection before the
    * probe fan-out so the nPlanes sign projections are computed once per
    * (row, table), not once per probe (CollapseProject keeps multiply-
    * referenced non-cheap aliases in their own stage). */
  private def bucketed(
      df: DataFrame, idAs: String, vecAs: String, vecCol: String, idCol: String,
      nPlanes: Int, dim: Int, tables: Int, probes: Int = 0): DataFrame = {
    val withBuckets = df.select(
      Seq(col(idCol).as(idAs), col(vecCol).as(vecAs),
        norm(col(vecCol)).as(s"${vecAs}_nrm")) ++ // norm once per vector, not per pair
        (0 until tables).map(t => lshBucket(col(vecCol), nPlanes, dim, t).as(s"__b$t")): _*)
    val p = math.min(math.max(probes, 0), nPlanes)
    val probed = (0 until tables).flatMap { t =>
      (0 to p).map { pi =>
        val b = if (pi == 0) col(s"__b$t")
          else col(s"__b$t").bitwiseXOR(lit(1L << (pi - 1)))
        struct(lit(t).as("tbl"), b.as("bucket"))
      }
    }
    withBuckets
      .select(col(idAs), col(vecAs), col(s"${vecAs}_nrm"),
        explode(array(probed: _*)).as("__tb"))
      .select(col(idAs), col(vecAs), col(s"${vecAs}_nrm"),
        col("__tb.tbl").as("tbl"), col("__tb.bucket").as("bucket"))
  }

  /** Approximate k-NN join via random-hyperplane LSH: candidates are pairs
    * sharing a (table, bucket), so the join is hash-partitioned by bucket id
    * instead of a cartesian product. nPlanes <= 0 auto-scales bucket count
    * to the corpus (see [[autoPlanes]]). `probes > 0` enables Hamming-1
    * multi-probing on the QUERY side only (corpus rows stay one bucket per
    * table, so the big side's index size is unchanged): each query also
    * visits the `probes` buckets one sign-flip away in every table,
    * multiplying candidates — and recall — by up to (probes+1)× at query
    * fan-out cost only. */
  def lshKnnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nPlanes: Int = 0,
      tables: Int = 2,
      targetBucketSize: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      corpusSize: Long = -1,
      dim: Int = -1,
      probes: Int = 0): DataFrame = {
    val d = dimOf(corpus, vecCol, dim)
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(sizeOf(corpus, corpusSize), targetBucketSize)
    val cb = bucketed(corpus, "neighbor_id", "corpus_vec", vecCol, idCol, planes, d, tables)
    val qb = bucketed(queries, "query_id", "query_vec", vecCol, idCol, planes, d, tables,
      probes = probes)
    val scored = cb.join(qb, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("corpus_vec"), col("query_vec")) /
          (col("corpus_vec_nrm") * col("query_vec_nrm")), 6).as("sim"))
      .dropDuplicates("query_id", "neighbor_id") // pair may collide in >1 table
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Default IVF centroid-count cap. Real IVF fixes the coarse-quantizer
    * size INDEPENDENT of n (FAISS-style nlist), so cell assignment is
    * O(n * C * d) with constant C — not the O(n^1.5 * d) a sqrt(n) quantizer
    * costs at billion-vector scale. 4096 centroids * 1e3 dims * 4B = 16 MB
    * broadcast, and assignment is 4096 dot products/row worst case. */
  val DefaultMaxCentroids = 4096

  /** Deterministic IVF coarse quantizer: the `c` corpus vectors with the
    * smallest xxhash64(id) — a stable pseudo-random sample, computed as a
    * TakeOrdered (no full sort materialized). Collecting C * d floats to the
    * driver is the standard, bounded IVF pattern (<= 16 MB at the default
    * cap). Exposed so repeated [[ivfKnnJoin]] calls against the same corpus
    * can train once and reuse. */
  def ivfCentroids(
      corpus: DataFrame,
      nCentroids: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Float]] = {
    import corpus.sparkSession.implicits._
    corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCentroids)
      .as[(Long, Array[Float])]
      .collect()
      .map(_._2)
  }

  private[operators] def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Running top-`probes` cells by (cosine desc, index asc) — O(C * probes)
    * per row with probes ~ 1..4, vs O(C log C) for a full sort. */
  private[operators] def nearestCells(
      cs: Array[Array[Float]], v: Array[Float], probes: Int): Array[Int] = {
    val n = math.min(probes, cs.length)
    if (n == 0) return Array.empty[Int]
    val topIdx = new Array[Int](n)
    val topScore = new Array[Double](n)
    var filled = 0
    var ci = 0
    while (ci < cs.length) {
      val s = cosineLocal(v, cs(ci))
      if (filled < n || s > topScore(filled - 1)) {
        var pos = math.min(filled, n - 1)
        while (pos > 0 && topScore(pos - 1) < s) {
          topIdx(pos) = topIdx(pos - 1); topScore(pos) = topScore(pos - 1); pos -= 1
        }
        topIdx(pos) = ci; topScore(pos) = s
        if (filled < n) filled += 1
      }
      ci += 1
    }
    java.util.Arrays.copyOf(topIdx, filled)
  }

  /** Lloyd-refined IVF coarse quantizer (spherical k-means iterations over
    * the hash-sample init): each iteration assigns every corpus vector to
    * its nearest centroid (the same mapPartitions argmin kernel the join
    * uses) and re-centers each cell at its member mean. The re-center is a
    * `reduceGroups` — partially aggregated map-side — so the only data that
    * ever reaches the driver per iteration is the C x d re-centered sums
    * (<= 16 MB at [[DefaultMaxCentroids]]); the corpus itself never moves.
    * Empty cells keep their previous centroid.
    *
    * The hash-sample init ([[ivfCentroids]]) is unbiased but blind to
    * cluster structure: on strongly clustered corpora it can seed two cells
    * in one cluster and none in another, and nProbe=1 queries in the
    * unseeded cluster then probe a wrong cell. One or two Lloyd passes pull
    * the seeds onto the real cluster centers (FAISS-style nlist training).
    * Cost per iteration is one corpus scan at O(n * C * d) — the same as
    * the final assignment pass. Deterministic: init, assignment
    * tie-breaking, and the mean are all order-independent. */
  def ivfCentroidsTrained(
      corpus: DataFrame,
      nCentroids: Int,
      iterations: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Float]] = {
    import corpus.sparkSession.implicits._
    var cents = ivfCentroids(corpus, nCentroids, idCol, vecCol)
    val typed = corpus.select(col(vecCol).cast("array<float>")).as[Array[Float]]
    var it = 0
    while (it < iterations && cents.nonEmpty) {
      val bc = corpus.sparkSession.sparkContext.broadcast(cents)
      val summed = typed
        .map { v =>
          val sum = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { sum(i) = v(i).toDouble; i += 1 }
          (nearestCells(bc.value, v, 1)(0), sum, 1L)
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = a._2
          var i = 0
          while (i < s.length) { s(i) += b._2(i); i += 1 }
          (a._1, s, a._3 + b._3)
        }
        .map(_._2)
        .collect() // <= C rows of (cell, sum, count) — same bound as init
      val byCell = summed.map(t => t._1 -> t).toMap
      cents = cents.indices.map { ci =>
        byCell.get(ci) match {
          case Some((_, sum, cnt)) => sum.map(x => (x / cnt).toFloat)
          case None => cents(ci) // empty cell: keep the previous centroid
        }
      }.toArray
      bc.unpersist(blocking = false)
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) approximate k-NN — the second ANN scale path
    * beside LSH. A deterministic coarse quantizer ([[ivfCentroids]])
    * partitions the corpus into cells; each query probes its `nProbe`
    * nearest cells, so scored candidates are ~ |corpus| * nProbe / C
    * instead of the full corpus.
    *
    * Cost model: assignment is O(n * C * d) with C capped at
    * [[DefaultMaxCentroids]] (fixed, independent of n — pass `nCentroids`
    * to override); the per-row cell selection keeps a running top-`probes`
    * (probes is 1 for corpus rows, nProbe for queries), not a full C-sort.
    *
    * Cell assignment runs as a mapPartitions loop over the broadcast
    * centroid array — C dot products per row in tight JVM code. This is
    * the deliberate mapPartitions case: per-row argmin against a broadcast
    * array is imperative, not relational, and a crossJoin would blow the
    * row count to n*C.
    *
    * @param centroids  precomputed quantizer from [[ivfCentroids]] /
    *                   [[ivfCentroidsTrained]] — pass it when calling
    *                   repeatedly so training runs once.
    * @param corpusSize amortization: skips the sizing count() when >0 and
    *                   `nCentroids`/`centroids` are not given.
    * @param trainIterations Lloyd passes refining the hash-sample quantizer
    *                   (see [[ivfCentroidsTrained]]); 0 (default) keeps the
    *                   pure hash sample. Ignored when `centroids` given. */
  def ivfKnnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCentroids: Int = 0,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids: Array[Array[Float]] = null,
      corpusSize: Long = -1,
      trainIterations: Int = 0): DataFrame = {
    import corpus.sparkSession.implicits._
    val typedCorpus = corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val cents: Array[Array[Float]] =
      if (centroids != null) centroids
      else {
        // cells sized for ~64-vector occupancy on small corpora, hard-capped
        // at DefaultMaxCentroids so C never scales with n
        val c = if (nCentroids > 0) nCentroids
          else math.min(DefaultMaxCentroids,
            math.max(2, math.ceil(sizeOf(corpus, corpusSize).toDouble / 64).toInt))
        if (trainIterations > 0) ivfCentroidsTrained(corpus, c, trainIterations, idCol, vecCol)
        else ivfCentroids(corpus, c, idCol, vecCol)
      }
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)

    val corpusCells = typedCorpus.mapPartitions(_.map { case (id, v) =>
      (nearestCells(bc.value, v, 1).head, id, v)
    }).toDF("cell", "neighbor_id", "corpus_vec")
      .withColumn("corpus_nrm", norm(col("corpus_vec")))

    val queryCells = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id, v) =>
        nearestCells(bc.value, v, nProbe).map(cell => (cell, id, v))
      }).toDF("cell", "query_id", "query_vec")
      .withColumn("query_nrm", norm(col("query_vec")))

    val scored = corpusCells.join(queryCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("corpus_vec"), col("query_vec")) /
          (col("corpus_nrm") * col("query_nrm")), 6).as("sim"))
      .dropDuplicates("query_id", "neighbor_id") // a pair may meet in >1 probed cell
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ model: coarse quantizer over the UNIT-NORMALIZED space plus
    * per-subspace residual codebooks. The memory story at 100 TB: an fp32
    * corpus vector is d*4 bytes; its PQ code is `m` bytes (+ cell id), a
    * d*4/m compression (32x at d=64, m=8) — the difference between "the
    * index fits in executor memory" and "it doesn't". */
  final case class PqModel(
      coarse: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], // m x ksub x dsub
      m: Int,
      dsub: Int) {
    def ksub: Int = codebooks(0).length
  }

  private[operators] def normalizeLocal(v: Array[Float]): Array[Float] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0.0) v.clone()
    else { val o = new Array[Float](v.length); i = 0
      while (i < v.length) { o(i) = (v(i) / n).toFloat; i += 1 }; o }
  }

  /** Plain L2 k-means over a (small, bounded) in-memory sample — the PQ
    * codebook trainer. Deterministic: first-k init in sample order, argmin
    * ties to the lower index, empty clusters keep their centroid. */
  private[operators] def kmeansLocal(
      points: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val kk = math.min(k, points.length)
    var cents = Array.tabulate(kk)(i => points(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](points(0).length))
      val cnts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kk) {
          var d = 0.0; var j = 0
          while (j < p.length) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(x => (x / cnts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Train an IVF-PQ model: Lloyd-refined coarse quantizer on the
    * normalized corpus, then per-subspace k-means codebooks over the
    * RESIDUALS (v - coarse_centroid) of a bounded, hash-ordered sample —
    * the FAISS training recipe. The driver pull is the sample only
    * (sampleSize x d floats, ~1 MB at the default 4096 x 64), the same
    * bounded pattern as [[ivfCentroids]]; the corpus itself never moves. */
  def trainIvfPq(
      corpus: DataFrame,
      nCentroids: Int = 0,
      m: Int = 8,
      ksub: Int = 256,
      sampleSize: Int = 4096,
      coarseIterations: Int = 2,
      pqIterations: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      corpusSize: Long = -1): PqModel = {
    import corpus.sparkSession.implicits._
    val normed = corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, normalizeLocal(v)) }
      .toDF(idCol, vecCol)
    val c = if (nCentroids > 0) nCentroids
      else math.min(DefaultMaxCentroids,
        math.max(2, math.ceil(sizeOf(corpus, corpusSize).toDouble / 64).toInt))
    val coarse = ivfCentroidsTrained(normed, c, coarseIterations, idCol, vecCol)
    val sample = normed.as[(Long, Array[Float])]
      .toDF(idCol, vecCol)
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .as[(Long, Array[Float])]
      .collect() // bounded: sampleSize x d floats
      .map(_._2)
    require(sample.nonEmpty, "trainIvfPq: corpus is empty — nothing to train on")
    val d = sample(0).length
    require(d % m == 0, s"dim $d must be divisible by m=$m subspaces")
    val dsub = d / m
    val residuals = sample.map { v =>
      val cell = nearestCells(coarse, v, 1)(0)
      val r = new Array[Float](d)
      var j = 0
      while (j < d) { r(j) = v(j) - coarse(cell)(j); j += 1 }
      r
    }
    val codebooks = Array.tabulate(m) { sub =>
      val pts = residuals.map(r => java.util.Arrays.copyOfRange(r, sub * dsub, (sub + 1) * dsub))
      kmeansLocal(pts, ksub, pqIterations)
    }
    PqModel(coarse, codebooks, m, dsub)
  }

  /** IVF-PQ approximate k-NN with asymmetric-distance re-ranking — the ANN
    * memory path for corpora whose fp32 vectors don't fit executor memory.
    *
    * Index side: each corpus vector normalizes, takes its coarse cell, and
    * encodes its RESIDUAL as `m` codebook bytes; the full vector is then
    * DROPPED from the index (re-rank fetches it back by id). Query side:
    * each query probes `nProbe` cells carrying one precomputed ADC lookup
    * table (q-sub-dot of all ksub codebook entries, m x ksub floats built
    * ONCE per query) plus the per-cell q.centroid dot. A candidate's ADC
    * score is then `cell_dot + sum_sub lut[sub*ksub + code]` — m lookups
    * per pair instead of d multiplies, the whole point of PQ. The top
    * `rerank` candidates per query by ADC re-score EXACTLY against the
    * fetched fp32 vectors, so every returned `sim` is a true cosine and
    * rank order within the returned set is exact — ADC approximation can
    * only affect which candidates reach the re-rank pool.
    *
    * Scale shape: one shuffle keys the probe join by cell; the ADC fold is
    * a per-row codegen'd HOF over an 8-byte array; the re-rank join keys by
    * neighbor id and touches rerank x |Q| rows, not the corpus. */
  def ivfPqKnnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      model: PqModel = null,
      nProbe: Int = 8,
      rerank: Int = 0,
      nCentroids: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      corpusSize: Long = -1): DataFrame = {
    val mdl = if (model != null) model
      else trainIvfPq(corpus, nCentroids, idCol = idCol, vecCol = vecCol,
        corpusSize = corpusSize)
    require(mdl.coarse.nonEmpty && mdl.codebooks.nonEmpty,
      "ivfPqKnnJoin: model has no centroids/codebooks (trained on an empty corpus?)")
    ivfPqSearch(encodeIvfPq(corpus, mdl, idCol, vecCol), corpus, queries, k,
      mdl, nProbe, rerank, idCol, vecCol)
  }

  /** Encode a corpus into the PQ index frame: (cell, neighbor_id, m
    * residual-codebook bytes) — NO vectors. This is the table a production
    * deployment builds ONCE and persists ([[saveIvfPqIndex]]); every
    * search scans it instead of the fp32 corpus. */
  def encodeIvfPq(
      corpus: DataFrame,
      mdl: PqModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import corpus.sparkSession.implicits._
    val bc = corpus.sparkSession.sparkContext.broadcast(mdl)
    corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val md = bc.value
        it.map { case (id, raw) =>
          val v = normalizeLocal(raw)
          val cell = nearestCells(md.coarse, v, 1)(0)
          val cs = new Array[Int](md.m)
          var sub = 0
          while (sub < md.m) {
            val cb = md.codebooks(sub)
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cb.length) {
              var dd = 0.0; var j = 0
              while (j < md.dsub) {
                val t = (v(sub * md.dsub + j) - md.coarse(cell)(sub * md.dsub + j)) - cb(c)(j)
                dd += t * t; j += 1
              }
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            cs(sub) = best; sub += 1
          }
          (cell, id, cs)
        }
      }.toDF("cell", "neighbor_id", "codes")
  }

  /** Search a (possibly persisted) PQ index: ADC shortlist over `codes`,
    * exact re-rank against `corpus` (the fp32 source of truth, fetched by
    * id — at 100 TB this is the point: only the shortlist's vectors are
    * ever read). */
  def ivfPqSearch(
      codes: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      mdl: PqModel,
      nProbe: Int = 8,
      rerank: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import corpus.sparkSession.implicits._
    val pool = if (rerank > 0) rerank else math.max(4 * k, 32)
    val bc = corpus.sparkSession.sparkContext.broadcast(mdl)

    // probes: (cell, query_id, q.c_cell) — the ADC lookup table deliberately
    // does NOT ride these rows: at nProbe cells it would put nProbe copies
    // of an m x ksub float table (~8 KB at the defaults) per query on the
    // cell-keyed shuffle, 32x the query vector it derives from. The table
    // lives in its own one-row-per-query frame and broadcast-joins onto the
    // candidates AFTER the cell match, so exactly one copy per query exists.
    val probes = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val md = bc.value
        it.flatMap { case (id, raw) =>
          val q = normalizeLocal(raw)
          nearestCells(md.coarse, q, nProbe).map { cell =>
            var cd = 0.0; var j = 0
            while (j < q.length) { cd += q(j).toDouble * md.coarse(cell)(j); j += 1 }
            (cell, id, cd.toFloat)
          }
        }
      }.toDF("cell", "query_id", "cell_dot")

    // one flattened m x ksub ADC table per query (built once per query)
    val luts = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val md = bc.value
        it.map { case (id, raw) =>
          val q = normalizeLocal(raw)
          val lut = new Array[Float](md.m * md.ksub)
          var sub = 0
          while (sub < md.m) {
            val cb = md.codebooks(sub)
            var c = 0
            while (c < cb.length) {
              var s = 0.0; var j = 0
              while (j < md.dsub) { s += q(sub * md.dsub + j).toDouble * cb(c)(j); j += 1 }
              lut(sub * md.ksub + c) = s.toFloat; c += 1
            }
            sub += 1
          }
          (id, lut)
        }
      }.toDF("query_id", "lut")

    val ksubLit = lit(mdl.ksub)
    val adcScored = codes.join(probes, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(luts), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (col("cell_dot") + aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(mdl.m - 1)),
            (code, sub) => element_at(col("lut"), (sub * ksubLit + code + 1).cast("int"))),
          lit(0.0), (acc, x) => acc + x)).as("adc"))
      // a (query, neighbor) pair meets once per probed cell it shares; the
      // corpus side has ONE cell per vector, so pairs are already unique
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortlist = adcScored.withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= pool)
      .select(col("query_id"), col("neighbor_id"))

    // exact re-rank: fetch the shortlist's fp32 vectors and score for real
    val qv = broadcast(queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("query_vec"), norm(col(vecCol)).as("query_nrm")))
    val rescored = shortlist
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("corpus_vec"), norm(col(vecCol)).as("corpus_nrm")), "neighbor_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("corpus_vec"), col("query_vec")) /
          (col("corpus_nrm") * col("query_nrm")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist a trained PQ index — model (coarse centroids + codebooks) and
    * the encoded corpus — as plain parquet under `path`. Train once, search
    * many: the serving session calls [[loadIvfPqIndex]] and never touches
    * the trainer or re-encodes the corpus. */
  def saveIvfPqIndex(mdl: PqModel, codes: DataFrame, path: String): Unit = {
    import codes.sparkSession.implicits._
    val coarseRows = mdl.coarse.zipWithIndex.map { case (v, i) => ("coarse", i, -1, v) }
    val cbRows = for {
      (cb, sub) <- mdl.codebooks.zipWithIndex
      (v, code) <- cb.zipWithIndex
    } yield ("codebook", sub, code, v)
    (coarseRows ++ cbRows).toSeq.toDF("part", "i", "j", "vec")
      .repartition(1) // model is tiny (<= C*d + m*ksub*dsub floats)
      .write.mode("overwrite").parquet(s"$path/model")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Load a PQ index persisted by [[saveIvfPqIndex]]: the (model, codes)
    * pair [[ivfPqSearch]] serves from. Model floats round-trip exactly
    * (parquet float32). */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (PqModel, DataFrame) = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/model")
      .select(col("part"), col("i"), col("j"), col("vec").cast("array<float>"))
      .as[(String, Int, Int, Array[Float])]
      .collect()
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._2).map(_._4)
    val cbRows = rows.filter(_._1 == "codebook")
    require(coarse.nonEmpty && cbRows.nonEmpty, s"no PQ model under $path/model")
    val m = cbRows.map(_._2).max + 1
    val codebooks = Array.tabulate(m) { sub =>
      cbRows.filter(_._2 == sub).sortBy(_._3).map(_._4)
    }
    val dsub = codebooks(0)(0).length
    (PqModel(coarse, codebooks, m, dsub), spark.read.parquet(s"$path/codes"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, bucketed by
    * multi-table LSH so the pair join never goes cartesian and bucket count
    * grows with the corpus. Pairs are (a < b). The bucketed projection
    * (planes x dim dot products per row) is the [[Dedup.bucketPairs]] band
    * frame (its fill rule and lifecycle): with the guard on, the drop
    * accounting runs Spark jobs at call time; `maxBucket = 0` keeps the
    * plan lazy (zero plan-time jobs).
    *
    * @param maxBucket degenerate-bucket guard: at most this many members per
    *                  (table, bucket) join the self-join (see
    *                  [[Dedup.bucketPairs]]; drops are logged, never silent).
    *                  A bucket of m near-identical embeddings — identical
    *                  boilerplate embedded identically — is otherwise locally
    *                  O(m²). <= 0 disables (and keeps the plan lazy). */
  def embeddingNearDups(
      corpus: DataFrame,
      threshold: Double,
      nPlanes: Int = 0,
      tables: Int = 2,
      targetBucketSize: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      corpusSize: Long = -1,
      dim: Int = -1,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val d = dimOf(corpus, vecCol, dim)
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(sizeOf(corpus, corpusSize), targetBucketSize)
    Dedup.bucketPairs(bucketed(corpus, "id", "vec", vecCol, idCol, planes, d, tables),
        Seq("tbl", "bucket"), maxBucket, "embeddingNearDups") {
      cosinePairs(_, threshold)
        // threshold BEFORE the pair-dedup: sim is deterministic per pair, so
        // the dedup shuffle carries only the (rare) near-dup pairs instead of
        // every multi-table candidate collision.
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** The cosine pair step over bucket-joined rows (aliased `l` and `r`,
    * each with id, vec and vec_nrm): (id_a, id_b, sim) at sim =
    * round(cosine, 6) >= threshold. */
  private def cosinePairs(joined: DataFrame, threshold: Double): DataFrame =
    joined.select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(dot(col("l.vec"), col("r.vec")) /
          (col("l.vec_nrm") * col("r.vec_nrm")), 6).as("sim"))
      .filter(col("sim") >= threshold)

  /** SemDeDup-style semantic near-duplicate pairs: a Lloyd-trained coarse
    * quantizer ([[ivfCentroidsTrained]]) partitions the corpus into cells
    * and the exact-cosine pair join runs WITHIN each cell only — the
    * embedding-space analogue of MinHash banding, completing the dedup
    * ladder exact → n-gram → passage → semantic. Pairs are (a < b) with
    * `sim` = round(cosine, 6) >= threshold.
    *
    * Recall contract (honest, like every bucketed candidate generator
    * here): a near-dup pair is found iff both members land in the same
    * cell. IDENTICAL vectors always do — assignment is a deterministic
    * per-row argmin over the same broadcast centroids — so exact semantic
    * duplicates have recall 1.0 structurally; a near-pair straddling a
    * cell boundary is the accepted SemDeDup trade (recall vs the O(n²)
    * scan the operator exists to avoid). Precision is 1.0: every emitted
    * pair carries its exact recomputed cosine.
    *
    * Scale shape: C cells bound within-cell membership to ~n/C on balanced
    * corpora, so pair work is ~n²/C instead of n²; the one shuffle keys by
    * cell; the occupancy guard ([[Dedup.bucketPairs]]' cap) bounds the
    * degenerate cell (m near-identical embeddings) with logged, never
    * silent, drops. Assignment is the same broadcast-argmin mapPartitions
    * kernel as [[ivfKnnJoin]] — O(C·d) per row, corpus never moves. The
    * cell frame is the [[Dedup.bucketPairs]] band frame (its fill rule
    * and lifecycle).
    *
    * @param centroids pass a precomputed quantizer to amortize training
    *                  across calls; otherwise Lloyd-trains one here.
    * @param maxCell   per-cell membership cap; <= 0 disables (and keeps
    *                  the plan lazy). */
  def semanticNearDups(
      corpus: DataFrame,
      threshold: Double,
      nCells: Int = 0,
      trainIterations: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids: Array[Array[Float]] = null,
      corpusSize: Long = -1,
      maxCell: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import corpus.sparkSession.implicits._
    val cents: Array[Array[Float]] =
      if (centroids != null) centroids
      else {
        val c = if (nCells > 0) nCells
          else math.min(DefaultMaxCentroids,
            math.max(2, math.ceil(sizeOf(corpus, corpusSize).toDouble / 64).toInt))
        ivfCentroidsTrained(corpus, c, trainIterations, idCol, vecCol)
      }
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    val cells = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (nearestCells(bc.value, v, 1).head, id, v)
      }).toDF("cell", "id", "vec")
      .withColumn("vec_nrm", norm(col("vec")))
    Dedup.bucketPairs(cells, Seq("cell"), maxCell, "semanticNearDups")(cosinePairs(_, threshold))
  }

  /** Semantic deduplication: drop every corpus row whose embedding is a
    * semantic near-dup ([[semanticNearDups]]) of a lower-id row — SemDeDup
    * proper: one canonical representative (the min id, via
    * [[Dedup.nearDupClusters]]' connected components) survives per
    * semantic cluster, so chains (a~b, b~c, a!~c) still collapse to one
    * doc. Returns the surviving corpus rows unchanged.
    *
    * The drop set (cluster members that are not their cluster's minimum)
    * is near-dup-sized — orders of magnitude smaller than the corpus — so
    * the final anti-join broadcasts it; the corpus is scanned once. */
  def semanticDedup(
      corpus: DataFrame,
      threshold: Double,
      nCells: Int = 0,
      trainIterations: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids: Array[Array[Float]] = null,
      corpusSize: Long = -1,
      maxCell: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val pairs = semanticNearDups(corpus, threshold, nCells, trainIterations,
      idCol, vecCol, centroids, corpusSize, maxCell)
    val drops = Dedup.nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__sem_drop_id"))
    corpus.join(broadcast(drops),
      corpus(idCol) === col("__sem_drop_id"), "left_anti")
  }

  /** Embedding-space cluster separation diagnostics against a label column:
    * per label, the member count, the mean distance of members to their own
    * label centroid (cohesion), the nearest OTHER centroid with its
    * distance, and the inter/intra separation ratio — the quality gate an
    * embedding pipeline reads before trusting its vectors for semantic
    * dedup or retrieval (labels whose ratio drops toward 1 are smeared into
    * their neighbor and will cross-contaminate IVF cells).
    *
    * Scale shape: centroids reduce through ONE partial-aggregable
    * (label, dim) groupBy over the exploded vectors (output: labels x dims
    * rows — tiny at any corpus size); member distances then compute IN-ROW
    * against a broadcast centroid-array table via a zip_with fold (no
    * N x dims shuffle — the only corpus-sized aggregation keys on label);
    * the centroid-pair matrix is labels² x dims, driver-negligible.
    *
    * Determinism: centroids snap to the 6-dp grid BEFORE any distance is
    * measured, so both engines subtract identical coordinates; the in-row
    * fold is fixed-order; per-member distances round to 6 dp and the mean
    * accumulates as exact DECIMAL. */
  def labelCentroidStats(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cent = embeddings
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
    // centroid as an ordered array per label (array_sort on (dim, c)
    // structs makes the collect_list order irrelevant)
    val centArr = cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cvec"))
    val dist = embeddings
      .select(col(labelCol).as("label"), col(idCol),
        transform(col(vecCol), v => v.cast("double")).as("xd"))
      .join(broadcast(centArr), Seq("label"))
      .select(col("label"),
        round(sqrt(aggregate(
          zip_with(col("xd"), col("cvec"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, v) => acc + v)), 6).as("d"))
    val intra = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("d").cast("decimal(28,6)")).as("sum_d"))
      .select(col("label"), col("n_points"),
        round(col("sum_d").cast("double") / col("n_points"), 6)
          .as("intra_mean_dist"))
    val a = cent.select(col("label").as("la"), col("dim"), col("c").as("ca"))
    val b = cent.select(col("label").as("lb"), col("dim"), col("c").as("cb"))
    val nearest = a.join(b, Seq("dim")).filter(col("la") =!= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("ss"))
      .select(col("la"), col("lb"), round(sqrt(col("ss")), 6).as("cd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("la")).orderBy(col("cd").asc, col("lb").asc)))
      .filter(col("rn") === 1)
      .select(col("la").as("label"), col("lb").as("nearest_label"),
        col("cd").as("inter_dist"))
    intra.join(nearest, Seq("label"))
      .select(col("label"), col("n_points"), col("intra_mean_dist"),
        col("nearest_label"), col("inter_dist"),
        round(col("inter_dist") / col("intra_mean_dist"), 6).as("separation"))
  }

  // ------------------------------------------------------- PCA whitening

  /** Fitted PCA-whitening model: `w` is the k x d whitening matrix
    * Λ^(−1/2)·Vᵀ over the top-k eigenpairs (descending eigenvalue), so
    * y = W(x − mean) has identity covariance on the fitted data.
    * `eigenvalues` (all d, descending) double as the variance-explained
    * telemetry an embedding pipeline monitors. */
  final case class WhiteningModel(
      mean: Array[Double],
      w: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** Fit PCA whitening over an embedding column — the standard embedding
    * preprocessing ahead of SemDeDup / ANN (decorrelate + unit-variance;
    * IVF cells and LSH planes both behave better on whitened inputs).
    *
    * Distributed shape: ONE treeAggregate pass accumulates (n, Σx, upper
    * triangle of Σxxᵀ) — d + d(d+1)/2 doubles per partition, combined in a
    * tree, so the driver receives ONE d×d summary regardless of corpus
    * size (the MLlib RowMatrix shape; d=64 ⇒ 2,144 doubles). The d×d
    * eigenproblem solves on the driver with cyclic Jacobi (deterministic:
    * fixed sweep order, convergence on off-diagonal norm, eigenvectors
    * sign-fixed by making each one's largest-|component| coordinate
    * positive, ties by index; eigenpairs sorted by eigenvalue desc then
    * index). `eps` regularizes: scale = (λ+eps)^(−1/2), so near-null
    * directions don't explode.
    *
    * Determinism contract: the aggregation sums DOUBLES, so the model is
    * deterministic for a fixed partitioning and equal within ~1e-9 across
    * partitionings (FP sum order) — the ANN-family tolerance contract, not
    * the bit-exact one; the catalog query pins whitening OUTCOMES
    * (identity covariance, zero mean) under explicit tolerances. */
  def fitWhitening(
      emb: DataFrame,
      vecCol: String = "embedding",
      components: Int = 0,
      eps: Double = 1e-6): WhiteningModel = {
    import emb.sparkSession.implicits._
    val vecs = emb.select(col(vecCol).cast("array<float>")).as[Array[Float]]
    val d = vecs.head().length
    val k = if (components <= 0) d else math.min(components, d)
    val tri = d * (d + 1) / 2
    // buffer: [n, s_0..s_{d-1}, upper-tri products]
    val zero = new Array[Double](1 + d + tri)
    val agg = vecs.rdd.treeAggregate(zero)(
      (b, v) => {
        b(0) += 1.0
        var i = 0
        while (i < d) {
          val vi = v(i).toDouble
          b(1 + i) += vi
          var j = i
          var t = 1 + d + i * d - i * (i - 1) / 2 // row-major upper-tri base
          while (j < d) { b(t + (j - i)) += vi * v(j); j += 1 }
          i += 1
        }
        b
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    val n = agg(0)
    require(n >= 2, s"fitWhitening needs >= 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => agg(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      val base = 1 + d + i * d - i * (i - 1) / 2
      while (j < d) {
        val c = agg(base + (j - i)) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c; j += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(idx => (-values(idx), idx))
    val eigenvalues = order.map(values).toArray
    val w = Array.tabulate(k) { r =>
      val src = order(r)
      val colV = Array.tabulate(d)(row => vectors(row)(src))
      // sign fix: largest-|component| coordinate positive (ties: lowest idx)
      var am = 0; var m = 0.0
      var t = 0
      while (t < d) { if (math.abs(colV(t)) > m) { m = math.abs(colV(t)); am = t }; t += 1 }
      val sgn = if (colV(am) < 0.0) -1.0 else 1.0
      val scale = 1.0 / math.sqrt(math.max(eigenvalues(r), 0.0) + eps)
      colV.map(_ * sgn * scale)
    }
    WhiteningModel(mean, w, eigenvalues)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix V with eigenvectors as COLUMNS),
    * unsorted. Deterministic: fixed (p,q) sweep order, rotation skipped on
    * zero off-diagonal, convergence when the off-diagonal Frobenius norm
    * drops below 1e-12 of the matrix norm (d<=a few hundred — the driver's
    * share of the whitening fit). */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val norm = math.sqrt(a.map(r => r.map(x => x * x).sum).sum)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 * math.max(norm, 1e-300) && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
                case x => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = {
        var s2 = 0.0
        var x = 0
        while (x < d) {
          var y = x + 1
          while (y < d) { s2 += 2.0 * a(x)(y) * a(x)(y); y += 1 }
          x += 1
        }
        math.sqrt(s2)
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Apply a fitted whitening model: y = W(x − mean), one broadcast-model
    * mapPartitions pass (the encodeIvfPq kernel shape — tight primitive
    * loops, no per-row allocation beyond the output). Returns
    * (idCol, whitened: array<double> of length k). */
  def whiten(
      emb: DataFrame,
      model: WhiteningModel,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import emb.sparkSession.implicits._
    val bc = emb.sparkSession.sparkContext.broadcast(model)
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val m = bc.value
        val d = m.mean.length
        val k = m.w.length
        it.map { case (id, raw) =>
          val y = new Array[Double](k)
          var r = 0
          while (r < k) {
            val row = m.w(r)
            var s = 0.0
            var j = 0
            while (j < d) { s += row(j) * (raw(j) - m.mean(j)); j += 1 }
            y(r) = s
            r += 1
          }
          (id, y)
        }
      }
      .toDF(idCol, "whitened")
  }

  /** The orthonormal PCA ROTATION of a fitted whitening model: mean zeroed
    * and each whitening row rescaled by √(λ+eps) back to unit norm, i.e.
    * y = Vᵀx. Orthogonal and un-centered, so inner products and norms —
    * hence cosine — are preserved EXACTLY: an ANN index built on rotated
    * vectors answers with unchanged ground truth. What changes is the
    * coordinate system: variance concentrates into the leading coordinates
    * and cross-correlations vanish, so PQ subquantizers (which quantize
    * fixed dsub-coordinate blocks independently) spend their codebooks on
    * decorrelated, energy-sorted blocks — the OPQ-lite preprocessing win
    * (OPQ itself initializes from exactly this rotation). Full whitening
    * (centering + λ^(−1/2) scaling) would CHANGE the cosine metric and
    * with it the answer set — wrong for serving an index whose contract is
    * original-space cosine; the rotation is the metric-preserving part.
    * `eps` must match the fit's. */
  def pcaRotation(model: WhiteningModel, eps: Double = 1e-6): WhiteningModel = {
    val rot = model.w.zipWithIndex.map { case (row, r) =>
      val s = math.sqrt(math.max(model.eigenvalues(r), 0.0) + eps)
      row.map(_ * s)
    }
    WhiteningModel(new Array[Double](model.mean.length), rot, model.eigenvalues)
  }

  /** [[pcaRotation]] with PQ eigenvalue allocation (the OPQ paper's
    * non-parametric initialization): the rotated dims are PERMUTED so each
    * of the `m` PQ subspaces (contiguous dsub-dim blocks) receives a
    * balanced share of the variance. Plain PCA rotation sorts variance
    * into the leading block — the WORST allocation for equal-size
    * codebooks (the leading subquantizer drowns while the trailing ones
    * idle); balancing equalizes per-subspace distortion. Allocation is
    * round-based: each round deals one dim to every subspace, the largest
    * remaining eigenvalue going to the subspace with the smallest
    * accumulated log-variance (deterministic: ties by subspace index).
    * A permutation of orthonormal rows is still orthonormal — cosine is
    * still preserved exactly. */
  def pcaRotationBalanced(
      model: WhiteningModel,
      m: Int = 8,
      eps: Double = 1e-6): WhiteningModel = {
    val rot = pcaRotation(model, eps)
    val d = rot.w.length
    require(m >= 1 && d % m == 0, s"dim $d must be divisible by m=$m")
    val dsub = d / m
    val logs = Array.fill(m)(0.0)
    val slots = Array.fill(m)(scala.collection.mutable.ArrayBuffer[Int]())
    var next = 0 // rows already sorted by descending eigenvalue
    var round = 0
    while (round < dsub) {
      // smallest accumulated variance first; each gets exactly one dim
      val order = (0 until m).sortBy(j => (logs(j), j))
      order.foreach { j =>
        slots(j) += next
        logs(j) += math.log(math.max(model.eigenvalues(next), 1e-300) + eps)
        next += 1
      }
      round += 1
    }
    val perm = slots.flatMap(_.toSeq)
    WhiteningModel(rot.mean, perm.map(rot.w).toArray,
      perm.map(model.eigenvalues).toArray)
  }

  /** Rotate an embedding frame into the PCA basis for ANN indexing/query:
    * [[pcaRotationBalanced]] applied via [[whiten]]'s broadcast-map
    * kernel, cast back to the (idCol, vecCol array<float>) shape every
    * index builder and search in this module consumes. `m` must match the
    * PQ subspace count the index is trained with (pass m = 1 for a plain
    * descending-variance rotation, e.g. ahead of a truncating index).
    * Corpus and queries MUST pass through the same fitted model —
    * encode-time and query-time bases have to agree, which is why the
    * model persists alongside the PQ index ([[saveWhitening]]). */
  def rotateForAnn(
      emb: DataFrame,
      model: WhiteningModel,
      m: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    whiten(emb, pcaRotationBalanced(model, m), idCol, vecCol)
      .select(col(idCol), col("whitened").cast("array<float>").as(vecCol))

  /** Persist a whitening/rotation model as plain parquet under `path` —
    * the companion artifact of a PQ index built on rotated vectors: a
    * serving session that loads the codes without the basis would encode
    * queries in the wrong coordinate system and silently return garbage.
    * Doubles round-trip exactly (parquet float64). */
  def saveWhitening(spark: org.apache.spark.sql.SparkSession,
      model: WhiteningModel, path: String): Unit = {
    import spark.implicits._
    val rows =
      Seq(("mean", -1, model.mean.toSeq), ("eig", -1, model.eigenvalues.toSeq)) ++
        model.w.zipWithIndex.map { case (row, r) => ("w", r, row.toSeq) }
    rows.toDF("part", "i", "vec")
      .repartition(1) // model is tiny ((k+2) x d doubles)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[saveWhitening]]. */
  def loadWhitening(spark: org.apache.spark.sql.SparkSession,
      path: String): WhiteningModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("part"), col("i"), col("vec").cast("array<double>"))
      .as[(String, Int, Array[Double])]
      .collect() // bounded: (k+2) x d doubles
    def one(p: String) = rows.find(_._1 == p)
      .getOrElse(throw new IllegalArgumentException(s"no '$p' row under $path"))._3
    val w = rows.filter(_._1 == "w").sortBy(_._2).map(_._3)
    require(w.nonEmpty, s"no whitening rows under $path")
    WhiteningModel(one("mean"), w, one("eig"))
  }
}
