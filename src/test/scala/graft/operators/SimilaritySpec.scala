package graft.operators

import org.apache.spark.sql.functions._

import graft.{ReferenceForms, SparkSpec}
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables(spark, sf0001, "embeddings").cache()

  test("native FloatDot == higher-order dot, bit-exact, in codegen and interpreted paths") {
    import graft.functions.VectorFunctions
    val pairs = emb.as("a").join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 7)
    val rows = pairs.select(
      VectorFunctions.dot(col("a.embedding"), col("b.embedding")).as("native"),
      ReferenceForms.dot(col("a.embedding"), col("b.embedding")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "bit-exact parity")
    }
  }

  test("native DoubleDot == full-double HOF fold, bit-exact, both eval paths") {
    import org.apache.spark.sql.graft.VectorExpressions.doubleDot
    // DOUBLE arrays derived the way q113 derives them (cast + rounded
    // quantization), where a float_dot cast would lose the low bits that
    // the 6-dp cosine rounding can see
    val d = emb.select($"vec_id",
      transform($"embedding", v => v.cast("double")).as("xd"))
    val pairs = d.as("a").join(d.as("b"), col("b.vec_id") === col("a.vec_id") + 7)
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val rows = pairs.select(
      doubleDot(col("a.xd"), col("b.xd")).as("native"),
      hof(col("a.xd"), col("b.xd")).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), "bit-exact parity")
    }
    // interpreted path (codegen disabled) agrees too
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r2 = pairs.select(doubleDot(col("a.xd"), col("b.xd")).as("n"),
        hof(col("a.xd"), col("b.xd")).as("h")).collect()
      r2.foreach(r => assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("native LshBucket == composed HOF bucket, all tables/planes, both eval paths") {
    import graft.functions.VectorFunctions
    val d = emb.select(size($"embedding")).head.getInt(0)
    // real vectors plus the degenerate cases the composed form collapses
    // to bucket 0 (null vec, null element, wrong length)
    val edge = Seq(
      (Option.empty[Seq[Option[Float]]], 1L),
      (Some(Seq(Some(1.0f), None) ++ Seq.fill(d - 2)(Some(0.5f))), 2L),
      (Some(Seq(Some(1.0f))), 3L)
    ).toDF("embedding", "vec_id")
    val vecs = emb.select($"embedding".cast("array<float>"), $"vec_id")
      .unionByName(edge.select($"embedding".cast("array<float>"), $"vec_id"))
    val cols = for (t <- 0 until 4; p <- Seq(5, 9, 13)) yield
      (VectorFunctions.lshBucket($"embedding", p, d, t).as(s"n_${t}_$p"),
        ReferenceForms.lshBucket($"embedding", p, d, t).as(s"h_${t}_$p"))
    def check(): Unit = {
      val rows = vecs.select(cols.flatMap(c => Seq(c._1, c._2)): _*).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        (0 until cols.size).foreach { ci =>
          assert(r.getLong(2 * ci) === r.getLong(2 * ci + 1),
            s"parity at ${cols(ci)._1}")
        }
      }
    }
    check()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      check()
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("double_dot is SQL-callable via GraftExtensions registration") {
    org.apache.spark.sql.graft.GraftExtensions.registerInto(spark)
    val r = spark.sql(
      "SELECT double_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(r === 11.0)
  }

  test("kernels are exact HOF equivalents on the null/length edge cases") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.graft.VectorExpressions.doubleDot
    val rows = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f)))),
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(3.0f), Some(4.0f)))), // null element
      (Some(Seq(Some(1.0f))), Some(Seq(Some(3.0f), Some(4.0f)))),       // length mismatch
      (None, Some(Seq(Some(3.0f))))                                     // null array
    ).toDF("a", "b")
    val got = rows.select(
      VectorFunctions.dot($"a", $"b").as("k"),
      ReferenceForms.dot($"a", $"b").as("h"),
      doubleDot(transform($"a", v => v.cast("double")),
        transform($"b", v => v.cast("double"))).as("kd")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"float kernel vs HOF nullness: $r")
      assert(r.isNullAt(2) === r.isNullAt(1), s"double kernel vs HOF nullness: $r")
      if (!r.isNullAt(0)) {
        assert(r.getDouble(0) === r.getDouble(1))
        assert(r.getDouble(2) === r.getDouble(1))
      }
    }
    assert(got(0).getDouble(0) === 11.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0) && got(3).isNullAt(0))
  }

  test("RewriteHofDot: the declarative fold lowers to the kernels, same results") {
    org.apache.spark.sql.graft.GraftExtensions.registerInto(spark)
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // float arrays -> float_dot
    val f = emb.as("a").join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 3)
      .select(hof(col("a.embedding"), col("b.embedding")).as("d"))
    assert(f.queryExecution.optimizedPlan.toString.contains("float_dot"),
      s"float HOF fold must lower:\n${f.queryExecution.optimizedPlan}")
    // double arrays -> double_dot (the cast-to-double is a no-op there and
    // the optimizer strips it before the rule runs)
    val dd = emb.select(transform($"embedding", v => v.cast("double")).as("xd"))
      .select(hof($"xd", $"xd").as("d"))
    assert(dd.queryExecution.optimizedPlan.toString.contains("double_dot"),
      s"double HOF fold must lower:\n${dd.queryExecution.optimizedPlan}")
    // value parity: rewritten result equals the interpreted fold evaluated
    // with the rule removed
    val withRule = f.collect().map(_.getDouble(0))
    val prev = spark.experimental.extraOptimizations
    val without = try {
      spark.experimental.extraOptimizations =
        prev.filterNot(_ == org.apache.spark.sql.graft.RewriteHofDot)
      f.collect().map(_.getDouble(0))
    } finally spark.experimental.extraOptimizations = prev
    assert(withRule.toSeq === without.toSeq)
    // a non-dot fold (sum of x+y) must NOT rewrite
    val other = emb.select(aggregate(
      zip_with($"embedding", $"embedding",
        (x, y) => x.cast("double") + y.cast("double")),
      lit(0.0), (acc, v) => acc + v).as("d"))
    assert(!other.queryExecution.optimizedPlan.toString.contains("_dot"),
      "sum-of-sums fold must stay a fold")
  }

  test("dot() accepts array<double>/array<int> via implicit cast (old HOF input domain)") {
    import graft.functions.VectorFunctions
    val df = Seq((Seq(1.0, 2.0), Seq(3, 4))).toDF("d", "i")
    val r = df.select(VectorFunctions.dot($"d", $"i").as("dot")).head.getDouble(0)
    assert(r === 11.0)
  }

  test("float_dot is SQL-callable via GraftExtensions registration") {
    org.apache.spark.sql.graft.GraftExtensions.registerInto(spark)
    val r = spark.sql(
      """SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .head.getDouble(0)
    assert(r === 11.0)
  }

  test("bruteForceTopK: query vector itself ranks first with sim 1.0") {
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 7), k = 5)
      .collect()
    assert(top.head.getAs[Long]("vec_id") == 7L)
    assert(math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-6)
    val sims = top.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sorted.reverse, "descending similarity")
  }

  test("knnJoin excludes self and returns k ranked neighbors per query") {
    val res = Similarity.knnJoin(emb, emb.filter($"vec_id" < 3), k = 4).collect()
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 4)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q), "self excluded")
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4))
    }
  }

  test("lshKnnJoin recall vs exact kNN is meaningful (same-bucket candidates)") {
    val k = 10
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.knnJoin(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshKnnJoin(emb, queries, k, nPlanes = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 2 hyperplanes = 4 buckets: each query sees ~1/4 of the corpus; random
    // vectors (the fixture) put ~25% of true neighbors in-bucket. The point
    // of this test is wiring (deterministic buckets, no cartesian), not
    // recall tuning — multi-probe would lift it.
    assert(recall > 0.10, s"recall $recall")
    assert(approx.nonEmpty)
  }

  test("lshKnnJoin multi-probe: recall monotone in probes, never below single-probe") {
    val k = 10
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.knnJoin(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallAt(probes: Int): Double = {
      val approx = Similarity.lshKnnJoin(emb, queries, k, nPlanes = 4, probes = probes)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    // Candidates at probes=p are a SUPERSET of probes=p-1 (the exact bucket
    // plus p single-bit flips), and a displaced top-k member can only be
    // displaced by a vector with strictly better (sim, id) order — which is
    // then itself in the true top-k. So recall is monotone by construction;
    // this pins the wiring (XOR fan-out on the query side only).
    val r0 = recallAt(0)
    val r2 = recallAt(2)
    val rFull = recallAt(4)
    assert(r2 >= r0, s"probes=2 recall $r2 < probes=0 recall $r0")
    assert(rFull >= r2, s"probes=4 recall $rFull < probes=2 recall $r2")
    // 4 planes fully probed at Hamming 1 = 5 of 16 buckets per query visit
    // ~31% of a uniform corpus; on the random fixture that lifts recall
    // WELL clear of the single-bucket ~1/16 — the whole point of probing.
    assert(rFull > r0, s"full probing must add recall on the random fixture ($r0 -> $rFull)")
  }

  test("ivfKnnJoin: deterministic, no self-matches, recall comparable to probing fraction") {
    val k = 10
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.knnJoin(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfKnnJoin(emb, queries, k, nProbe = 3)
    val rows = ivf.collect()
    assert(rows.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    val approx = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 500 vectors, ~23 cells, 3 probes -> each query scores ~13% of the
    // corpus; on the uniform-random fixture recall tracks that fraction.
    // This pins WIRING (deterministic cells, candidate containment), not
    // recall tuning.
    assert(recall > 0.08, s"recall $recall")
    // determinism across evaluations
    val again = Similarity.ivfKnnJoin(emb, queries, k, nProbe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(again === approx)
  }

  test("ivfPqKnnJoin: full re-rank pool equals exact scoring over the same probe set") {
    val k = 5
    val queries = emb.filter($"vec_id" < 10)
    val mdl = Similarity.trainIvfPq(emb, m = 8)
    assert(mdl.dsub === 8) // d=64 / m=8
    assert(mdl.codebooks.length === 8)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"))).toSet
    // With a re-rank pool covering every probed candidate, ADC can drop
    // nothing, so IVF-PQ must return EXACTLY what exact-scored IVF returns
    // over the same coarse cells (same centroids, same nProbe) — the
    // "recall 1.0 within the probe set by construction" contract.
    val pq = pairs(Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl,
      nProbe = 3, rerank = 1000000))
    val exactIvf = pairs(Similarity.ivfKnnJoin(emb, queries, k,
      centroids = mdl.coarse, nProbe = 3))
    assert(pq === exactIvf)
    // determinism across evaluations
    val again = pairs(Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl,
      nProbe = 3, rerank = 1000000))
    assert(again === pq)
  }

  test("ivfPqKnnJoin: finite ADC pool still returns only true cosines, bounded recall loss") {
    val k = 5
    val queries = emb.filter($"vec_id" < 10)
    val mdl = Similarity.trainIvfPq(emb, m = 8)
    val res = Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl, nProbe = 3, rerank = 2 * k)
      .collect()
    assert(res.nonEmpty)
    // every returned sim is the exact recomputed cosine (ADC never leaks
    // into returned scores) and no self-matches survive
    val byId = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    res.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(q != n)
      val expect = BigDecimal(Similarity.cosineLocal(byId(q), byId(n)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("sim") - expect) < 1e-9)
    }
    // the tight pool keeps most of what the full pool finds on the fixture
    def ids(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val full = Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl,
      nProbe = 3, rerank = 1000000).collect()
    val overlap = (ids(res) & ids(full)).size.toDouble / ids(full).size
    assert(overlap >= 0.5, s"ADC@${2 * k} shortlist lost too much: $overlap")
  }

  test("ivfPqKnnJoin property: full pool == exact-within-probe-set on random corpora") {
    // the fixture test pins one corpus; this pins the INVARIANT — for any
    // corpus, an ADC pool covering every candidate cannot change what the
    // exact re-rank returns vs exact scoring over the same probed cells
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 2) {
      val dim = 16
      val vecs = (0 until 150).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      val df = vecs.toDF("vec_id", "embedding")
      val mdl = Similarity.trainIvfPq(df, nCentroids = 6, m = 4, ksub = 16,
        pqIterations = 4)
      val q = df.filter($"vec_id" < 8)
      def pairs(r: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
        r.collect().map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"),
          x.getAs[Double]("sim"))).toSet
      val pq = pairs(Similarity.ivfPqKnnJoin(df, q, k = 4, model = mdl,
        nProbe = 2, rerank = 1000000))
      val exact = pairs(Similarity.ivfKnnJoin(df, q, k = 4,
        centroids = mdl.coarse, nProbe = 2))
      assert(pq === exact, s"trial $trial")
    }
  }

  test("IVF-PQ index persists: save -> load -> search equals the direct join") {
    val k = 5
    val queries = emb.filter($"vec_id" < 10)
    val mdl = Similarity.trainIvfPq(emb, m = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    Similarity.saveIvfPqIndex(mdl, Similarity.encodeIvfPq(emb, mdl), path)
    val (loaded, codes) = Similarity.loadIvfPqIndex(spark, path)
    // model round-trips exactly (parquet float32)
    assert(loaded.m === mdl.m && loaded.dsub === mdl.dsub)
    assert(loaded.coarse.length === mdl.coarse.length)
    assert(loaded.coarse.flatten.toSeq === mdl.coarse.flatten.toSeq)
    assert(loaded.codebooks.flatten.flatten.toSeq === mdl.codebooks.flatten.flatten.toSeq)
    // serving from the persisted index == building the index inline
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"))).toSet
    val served = pairs(Similarity.ivfPqSearch(codes, emb, queries, k, loaded,
      nProbe = 3, rerank = 2 * k))
    val direct = pairs(Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl,
      nProbe = 3, rerank = 2 * k))
    assert(served === direct)
  }

  test("kmeansLocal: deterministic, recovers crafted well-separated clusters") {
    val pts = Array(
      Array(0f, 0f), Array(0.1f, 0f), Array(0f, 0.1f),
      Array(10f, 10f), Array(10.1f, 10f), Array(10f, 10.1f))
    val cents = Similarity.kmeansLocal(pts, 2, 8)
    assert(cents.length === 2)
    val sorted = cents.sortBy(_(0))
    assert(math.abs(sorted(0)(0) - 0.0333f) < 0.01 && math.abs(sorted(1)(0) - 10.0333f) < 0.01)
    // ksub > points degrades gracefully
    assert(Similarity.kmeansLocal(pts, 256, 2).length === 6)
  }

  test("ivfCentroidsTrained: Lloyd passes improve recall on a clustered corpus at equal nProbe") {
    // 8 tight, well-separated clusters. A hash-sample quantizer draws 8
    // seeds uniformly from the 400 points — P(one seed per cluster) ~ 0.2%,
    // so some cluster is almost surely unseeded and its nProbe=1 queries
    // probe a wrong cell. Lloyd passes pull seeds onto the real centers.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val clusters = 8
    val perCluster = 50
    val centers = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    val points = for {
      c <- 0 until clusters; i <- 0 until perCluster
    } yield ((c.toLong * perCluster + i),
      centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.3f).toSeq)
    val corpus = points.toDF("vec_id", "embedding").cache()
    val queries = corpus.filter($"vec_id" % perCluster === 3) // one per cluster

    val exact = Similarity.knnJoin(corpus, queries, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: Array[Array[Float]]): Double = {
      val approx = Similarity.ivfKnnJoin(corpus, queries, k = 10, nProbe = 1,
          centroids = cents)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }

    val sampled = Similarity.ivfCentroids(corpus, clusters)
    val trained = Similarity.ivfCentroidsTrained(corpus, clusters, iterations = 2)
    assert(trained.length === sampled.length, "training never changes C")
    val rSampled = recallOf(sampled)
    val rTrained = recallOf(trained)
    info(s"recall@10 nProbe=1: hash-sample $rSampled, trained $rTrained")
    assert(rTrained >= rSampled, "Lloyd refinement must not lose recall here")
    assert(rTrained > 0.85, s"trained recall $rTrained should be near-perfect on tight clusters")
    // deterministic: same data -> same trained quantizer
    val again = Similarity.ivfCentroidsTrained(corpus, clusters, iterations = 2)
    assert(trained.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // the trainIterations param reaches the same quantizer through the join
    val viaParam = Similarity.ivfKnnJoin(corpus, queries, k = 10, nProbe = 1,
        nCentroids = clusters, trainIterations = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCents = Similarity.ivfKnnJoin(corpus, queries, k = 10, nProbe = 1,
        centroids = trained)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaParam === viaCents)
  }

  test("ANN plan-time actions are amortizable: explicit sizing params run zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    emb.count() // materialize the cache so auto-detection cost isn't conflated
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val queries = emb.filter($"vec_id" < 3)
    val cents = Similarity.ivfCentroids(emb, nCentroids = 8) // trained once, reused below
    spark.sparkContext.addSparkListener(l)
    try {
      // constructing the plans with corpusSize/dim/centroids given must not
      // launch any Spark job (no count()/head()/training at plan time)
      val lsh = Similarity.lshKnnJoin(emb, queries, k = 3, corpusSize = 500L, dim = 64)
      val ivf = Similarity.ivfKnnJoin(emb, queries, k = 3, centroids = cents)
      // maxBucket = 0: the occupancy guard's drop accounting is necessarily
      // eager (it runs jobs at call time, by design — no silent truncation),
      // so the zero-plan-time-jobs contract holds for the unguarded form
      val nd = Similarity.embeddingNearDups(emb, threshold = 0.3,
        corpusSize = 500L, dim = 64, maxBucket = 0)
      Thread.sleep(1000) // listener bus is async; zero events expected
      assert(jobs.get() === 0,
        s"plan construction ran ${jobs.get()} jobs despite explicit sizing params")
      // and the parameterized forms execute to the same results as auto-detect
      assert(lsh.collect().toSet ===
        Similarity.lshKnnJoin(emb, queries, k = 3).collect().toSet)
      assert(ivf.collect().nonEmpty)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("embeddingNearDups: pairs ordered, above threshold, subset of brute-force truth") {
    val thr = 0.30
    val nd = Similarity.embeddingNearDups(emb, threshold = thr, nPlanes = 2).collect()
    assert(nd.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(nd.forall(_.getAs[Double]("sim") >= thr))
  }

  // Shared clustered fixture for the SemDeDup tests: 8 tight, well-separated
  // clusters (noise sigma 0.1 against center norm ~20, so within-cluster
  // cosine ~0.9996, cross-cluster ~0).
  private lazy val semCorpus = {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val clusters = 8
    val perCluster = 40
    val centers = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    val points = for {
      c <- 0 until clusters; i <- 0 until perCluster
    } yield ((c.toLong * perCluster + i),
      centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.1f).toSeq)
    points.toDF("vec_id", "embedding").cache()
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("semanticNearDups: precision 1.0 vs exhaustive truth, high within-cluster recall") {
    val thr = 0.99
    val v = semCorpus.select($"vec_id".cast("long").as("id"),
        $"embedding".cast("array<float>").as("vec"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm($"vec"))
    val ex = pairSet(v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.functions.VectorFunctions.dot(col("a.vec"), col("b.vec")) /
          (col("a.nrm") * col("b.nrm")), 6).as("sim"))
      .filter($"sim" >= thr))
    val nd = pairSet(Similarity.semanticNearDups(semCorpus, threshold = thr,
      nCells = 8, trainIterations = 2))
    assert(ex.nonEmpty, "fixture must actually contain semantic near-dups")
    assert(nd.subsetOf(ex), "precision must be 1.0 — every pair is exact-cosine verified")
    val recall = (nd & ex).size.toDouble / ex.size
    info(s"semantic recall vs exhaustive: $recall (${nd.size}/${ex.size})")
    // a Lloyd cell split across one cluster costs ~half that cluster's
    // pairs; 0.6 tolerates one split without passing a broken operator
    assert(recall >= 0.6, s"within-cluster recall $recall too low")
  }

  test("semanticNearDups: identical vectors are ALWAYS found (same argmin cell)") {
    val withCopies = semCorpus.union(
      semCorpus.filter($"vec_id" < 10)
        .select(($"vec_id" + lit(1000L)).as("vec_id"), $"embedding"))
    // 0.99999: above within-cluster cosine (~0.9996), so only the planted
    // identical copies (cos 1.0) qualify
    val nd = pairSet(Similarity.semanticNearDups(withCopies, threshold = 0.99999,
      nCells = 8, trainIterations = 2))
    val planted = (0L until 10L).map(i => (i, i + 1000L)).toSet
    assert(planted.subsetOf(nd),
      s"identical-copy recall must be 1.0, missing ${planted -- nd}")
  }

  test("semanticDedup: one canonical representative survives per semantic cluster") {
    val withCopies = semCorpus.union(
      semCorpus.filter($"vec_id" < 10)
        .select(($"vec_id" + lit(1000L)).as("vec_id"), $"embedding"))
    val dd = Similarity.semanticDedup(withCopies, threshold = 0.99999, nCells = 8)
    val ids = dd.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dd.count() === semCorpus.count(), "exactly the planted copies drop")
    assert((0L until 10L).forall(ids.contains), "the min id of each pair survives")
    assert((1000L until 1010L).forall(id => !ids.contains(id)), "copies drop")
    assert(dd.columns.toSeq === withCopies.columns.toSeq, "corpus schema unchanged")
  }

  test("labelCentroidStats: hand-computed centroids, distances, nearest label") {
    // label 0: (0,0),(2,0) -> centroid (1,0), both members at distance 1
    // label 1: (10,0),(12,0) -> centroid (11,0), both at distance 1
    // label 2: (11,5),(11,7) -> centroid (11,6), both at distance 1
    // centroid distances: 0-1 = 10, 0-2 = sqrt(136) ~ 11.66, 1-2 = 6
    val fix = Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(2f, 0f), 0),
      (2L, Array(10f, 0f), 1), (3L, Array(12f, 0f), 1),
      (4L, Array(11f, 5f), 2), (5L, Array(11f, 7f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidStats(fix).collect()
      .map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_points"), r.getAs[Double]("intra_mean_dist"),
          r.getAs[Int]("nearest_label"), r.getAs[Double]("inter_dist"),
          r.getAs[Double]("separation"))))
      .toMap
    assert(got(0) === ((2L, 1.0, 1, 10.0, 10.0)))
    assert(got(1) === ((2L, 1.0, 2, 6.0, 6.0)))
    assert(got(2) === ((2L, 1.0, 1, 6.0, 6.0)))
  }

  test("labelCentroidStats: fixture run is total and one row per label") {
    val out = Similarity.labelCentroidStats(emb).collect()
    val labels = emb.select("label").distinct().count()
    assert(out.length === labels, "one diagnostics row per label")
    out.foreach { r =>
      assert(r.getAs[Double]("intra_mean_dist") > 0)
      assert(r.getAs[Double]("inter_dist") > 0)
      assert(r.getAs[Int]("nearest_label") !== r.getAs[Int]("label"))
    }
  }

  test("jacobiEigen: reconstructs a seeded symmetric matrix; V orthonormal") {
    val rnd = new scala.util.Random(5)
    val d = 6
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val x = rnd.nextDouble() * 2 - 1; a(i)(j) = x; a(j)(i) = x
    }
    val (vals, v) = Similarity.jacobiEigen(a)
    // A v_c == lambda_c v_c for every eigenpair
    for (c <- 0 until d; r <- 0 until d) {
      val av = (0 until d).map(k => a(r)(k) * v(k)(c)).sum
      assert(math.abs(av - vals(c) * v(r)(c)) < 1e-9, s"pair $c row $r")
    }
    // columns orthonormal
    for (c1 <- 0 until d; c2 <- 0 until d) {
      val dot = (0 until d).map(k => v(k)(c1) * v(k)(c2)).sum
      assert(math.abs(dot - (if (c1 == c2) 1.0 else 0.0)) < 1e-9)
    }
  }

  test("whitening: correlated data comes out identity-covariance, zero-mean") {
    import spark.implicits._
    // strongly correlated 3-D cloud (y ~ 2x + noise, z independent)
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map { i =>
      val x = rnd.nextGaussian()
      (i, Array((x + 3.0).toFloat, (2.0 * x + 0.1 * rnd.nextGaussian() - 1.0).toFloat,
        rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").repartition(7)
    val mdl = Similarity.fitWhitening(df, eps = 1e-9)
    assert(mdl.eigenvalues.length === 3 &&
      mdl.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      "eigenvalues descending")
    val y = Similarity.whiten(df, mdl).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("whitened")).toArray)
    val n = y.length
    val meanY = Array.tabulate(3)(i => y.map(_(i)).sum / n)
    meanY.foreach(m => assert(math.abs(m) < 1e-6, s"whitened mean $m"))
    for (i <- 0 until 3; j <- 0 until 3) {
      val c = y.map(v => (v(i) - meanY(i)) * (v(j) - meanY(j))).sum / n
      assert(math.abs(c - (if (i == j) 1.0 else 0.0)) < 1e-5, s"cov($i,$j)=$c")
    }
  }

  test("whitening: components=k truncates to the top-k variance directions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      val x = rnd.nextGaussian()
      (i, Array((10.0 * x).toFloat, rnd.nextGaussian().toFloat,
        (0.01 * rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val mdl = Similarity.fitWhitening(df, components = 2)
    assert(mdl.w.length === 2)
    val y = Similarity.whiten(df, mdl).collect()
    assert(y.forall(r => r.getSeq[Double](r.fieldIndex("whitened")).size == 2))
    // the top direction is the 10x-variance axis: |w_0| concentrates on dim 0
    val w0 = mdl.w(0).map(math.abs)
    assert(w0(0) * w0(0) / w0.map(a => a * a).sum > 0.99,
      "first component must align with the dominant axis")
  }

  test("pcaRotation: orthonormal rows; rotateForAnn preserves pairwise cosine") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0L until 120L).map { i =>
      val x = rnd.nextGaussian()
      (i, Array((x + 1.0).toFloat, (3.0 * x + rnd.nextGaussian()).toFloat,
        rnd.nextGaussian().toFloat, (0.5 * rnd.nextGaussian() - 2.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val rot = Similarity.pcaRotation(Similarity.fitWhitening(df))
    assert(rot.mean.forall(_ == 0.0), "rotation must not center")
    val d = rot.w.length
    for (r1 <- 0 until d; r2 <- 0 until d) {
      val dot = rot.w(r1).zip(rot.w(r2)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (r1 == r2) 1.0 else 0.0)) < 1e-6,
        s"rows $r1,$r2 not orthonormal: $dot")
    }
    val orig = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dd = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dd / (na * nb)
    }
    val rotted = Similarity.rotateForAnn(df, Similarity.fitWhitening(df), m = 2)
      .as[(Long, Array[Float])].collect().toMap
    val ids = orig.keys.toSeq.sorted.take(15)
    for (a <- ids; b <- ids if a < b)
      assert(math.abs(cos(orig(a), orig(b)) - cos(rotted(a), rotted(b))) < 1e-5,
        s"cosine($a,$b) changed under rotation")
  }

  test("pcaRotationBalanced: permutation of orthonormal rows, balanced subspace variance") {
    import spark.implicits._
    // strongly anisotropic 8-D cloud: per-dim stddevs 8,7,...,1
    val rnd = new scala.util.Random(19)
    val df = (0L until 200L).map(i =>
        (i, Array.tabulate(8)(j => ((8 - j) * rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val wm = Similarity.fitWhitening(df)
    val plain = Similarity.pcaRotation(wm)
    val bal = Similarity.pcaRotationBalanced(wm, m = 4)
    // every balanced row is one of the plain rotation's rows (a permutation)
    val plainRows = plain.w.map(_.toSeq).toSet
    assert(bal.w.forall(r => plainRows(r.toSeq)))
    assert(bal.w.map(_.toSeq).distinct.length == 8)
    // per-subspace (dsub=2) eigenvalue log-sums are tighter than the
    // sorted allocation's: balanced spread strictly smaller
    def spread(eigs: Array[Double], m: Int): Double = {
      val dsub = eigs.length / m
      val sums = eigs.grouped(dsub).map(_.map(math.log).sum).toSeq
      sums.max - sums.min
    }
    assert(spread(bal.eigenvalues, 4) < spread(plain.eigenvalues, 4),
      "balanced allocation must equalize per-subspace variance")
  }

  test("saveWhitening/loadWhitening: exact double round-trip through parquet") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = (0L until 60L).map(i =>
        (i, Array.fill(5)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val mdl = Similarity.fitWhitening(df)
    val path = graft.sources.TempStores.scratch(spark, "graft_spec_whitening")
    Similarity.saveWhitening(spark, mdl, path)
    val back = Similarity.loadWhitening(spark, path)
    assert(back.mean.toSeq == mdl.mean.toSeq)
    assert(back.eigenvalues.toSeq == mdl.eigenvalues.toSeq)
    assert(back.w.length == mdl.w.length &&
      back.w.zip(mdl.w).forall { case (a, b) => a.toSeq == b.toSeq })
  }
}
