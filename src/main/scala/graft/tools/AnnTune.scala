package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Materialize, Similarity}

/** Recall/latency grid for the ANN operating points: every published
  * `ann_recall` number needs its cost measured alongside (a recall column
  * without a cost column is marketing). Run:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.AnnTune"
  *
  * Prints one line per operating point: recall@k vs the exact kNN truth,
  * wall seconds for the full |Q|-query join (median of 3), and the scan
  * fraction the index touches (candidates / (|Q| * n) — the scale-relevant
  * cost; wall time at sf0.1 is dominated by fixed plan overhead).
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-ann-tune", defaultCpus = 8)

    val k = 10
    val nQ = 50
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < nQ)
    val n = emb.count()

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnJoin(emb, queries, k))
    def recall(s: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 0.0 else (s & exact).size.toDouble / exact.size

    def timeIt(mk: () => DataFrame): (Double, Double) = {
      val r = recall(pairs(mk()))
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (r, times.min)
    }

    val cells = math.min(Similarity.DefaultMaxCentroids,
      math.max(2, math.ceil(n.toDouble / 64).toInt))
    println(s"n=$n cells=$cells k=$k nQ=$nQ")

    for (iters <- Seq(2, 5); probe <- Seq(8, 12, 16)) {
      val cents = Similarity.ivfCentroidsTrained(emb, cells, iterations = iters)
      val (r, t) = timeIt(() =>
        Similarity.ivfKnnJoin(emb, queries, k, nProbe = probe, centroids = cents))
      println(f"ivf iters=$iters%d nProbe=$probe%-2d recall=$r%.3f minSec=$t%.2f scanFrac=${probe.toDouble / cells}%.3f")
    }
    for (tables <- Seq(2, 4, 6); probes <- Seq(8, 16)) {
      val (r, t) = timeIt(() =>
        Similarity.lshKnnJoin(emb, queries, k, tables = tables, probes = probes))
      println(f"lsh tables=$tables%d probes=$probes%-2d recall=$r%.3f minSec=$t%.2f")
    }
    for (m <- Seq(8, 16); pool <- Seq(64, 128, 192)) {
      val mdl = Similarity.trainIvfPq(emb, nCentroids = cells, m = m, coarseIterations = 5)
      val (r, t) = timeIt(() =>
        Similarity.ivfPqKnnJoin(emb, queries, k, model = mdl, nProbe = 16, rerank = pool))
      println(f"ivfpq m=$m%-2d nProbe=16 rerank=$pool%-3d recall=$r%.3f minSec=$t%.2f")
    }
    // PCA-rotated basis with per-m balanced eigenvalue allocation
    // (OPQ-lite, q194): same budgets as the rows above — the recall delta
    // is pure subquantizer decorrelation/balancing gain
    val wm = Similarity.fitWhitening(emb)
    for (m <- Seq(8, 16); pool <- Seq(64, 128, 192)) {
      val rotEmb = Similarity.rotateForAnn(emb, wm, m = m)
      val rotQ = Similarity.rotateForAnn(queries, wm, m = m)
      val mdl = Similarity.trainIvfPq(rotEmb, nCentroids = cells, m = m, coarseIterations = 5)
      val (r, t) = timeIt(() =>
        Similarity.ivfPqKnnJoin(rotEmb, rotQ, k, model = mdl, nProbe = 16, rerank = pool))
      println(f"ivfpq_rot m=$m%-2d nProbe=16 rerank=$pool%-3d recall=$r%.3f minSec=$t%.2f")
    }

    // ---- anisotropic fixture (r14 verdict #5): the base embeddings are
    // near-isotropic (eigen spread 0.011-0.021), so the rotation's win
    // there is its FLOOR. Project the same vectors through a fixed
    // non-axis-aligned skew — Householder mix (I - 2uu^T, u = 1/sqrt(d))
    // composed with a per-dimension exponential decay (cond(cov) ~ 2.5e3)
    // — so variance concentrates in directions that cross PQ's subspace
    // boundaries, the regime OPQ-style rotation exists for. Deterministic
    // (no RNG), exact truth recomputed on the projected vectors.
    {
      import org.apache.spark.sql.functions.{col => c}
      val d = emb.selectExpr("size(embedding) AS d").head().getInt(0)
      val scales = Array.tabulate(d)(j => math.pow(0.94, j))
      val u = 1.0 / math.sqrt(d.toDouble)
      val skewW = Array.tabulate(d, d)((r, q) =>
        ((if (r == q) 1.0 else 0.0) - 2.0 * u * u) * scales(q))
      val skewModel = Similarity.WhiteningModel(
        new Array[Double](d), skewW, scales.map(s => s * s))
      val skewed = Materialize.shared()(Similarity.whiten(emb, skewModel)
        .select(c("vec_id"), c("whitened").cast("array<float>").as("embedding")))
      val sq = skewed.filter(c("vec_id") < nQ)
      val exactS = pairs(Similarity.knnJoin(skewed, sq, k))
      def recallS(s: Set[(Long, Long)]): Double =
        if (exactS.isEmpty) 0.0 else (s & exactS).size.toDouble / exactS.size
      def timeS(mk: () => DataFrame): (Double, Double) = {
        val r = recallS(pairs(mk()))
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        (r, times.min)
      }
      val wmS = Similarity.fitWhitening(skewed)
      println(f"skewed_fixture eigen_head=${wmS.eigenvalues.head}%.4g " +
        f"eigen_tail=${wmS.eigenvalues.last}%.4g " +
        f"spread=${wmS.eigenvalues.head / math.max(wmS.eigenvalues.last, 1e-300)}%.1f")
      // rerank=128 is 6.4% of the sf0.1 fixture — the exact re-rank then
      // absorbs most ADC error and recall saturates ~0.99 for ANY basis;
      // the 32-pool point is where codebook quality actually discriminates
      for (m <- Seq(8, 16); pool <- Seq(32, 128)) {
        val mdl = Similarity.trainIvfPq(skewed, nCentroids = cells, m = m,
          coarseIterations = 5)
        val (r, t) = timeS(() =>
          Similarity.ivfPqKnnJoin(skewed, sq, k, model = mdl, nProbe = 16,
            rerank = pool))
        println(f"skewed_ivfpq m=$m%-2d nProbe=16 rerank=$pool%-3d recall=$r%.3f minSec=$t%.2f")
        val rotEmb = Similarity.rotateForAnn(skewed, wmS, m = m)
        val rotQ = Similarity.rotateForAnn(sq, wmS, m = m)
        val mdlR = Similarity.trainIvfPq(rotEmb, nCentroids = cells, m = m,
          coarseIterations = 5)
        val (rr, tr) = timeS(() =>
          Similarity.ivfPqKnnJoin(rotEmb, rotQ, k, model = mdlR, nProbe = 16,
            rerank = pool))
        println(f"skewed_ivfpq_rot m=$m%-2d nProbe=16 rerank=$pool%-3d recall=$rr%.3f minSec=$tr%.2f")
      }
    }
    spark.stop()
  }
}
