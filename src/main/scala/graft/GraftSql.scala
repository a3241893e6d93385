package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.udaf

import graft.operators.{Dedup, Graph, Retrieval, Sketches, StreamingTopK}
import graft.sources.Tables

/** The engine's SQL-ONLY surface: one registration call makes the fixture
  * tables, the operator-backed views, and the sketch aggregates reachable
  * from `spark.sql(...)` (and therefore from JDBC/Thrift clients and
  * notebook SQL cells) with zero Scala in the query text.
  *
  * Three layers, all installed by [[registerAll]]:
  *
  *  1. the fixture tables as `<name>_v` temp views (read through
  *     [[Tables]], so the ts normalization and GraftExtensions' scalar
  *     kernels — doc_fingerprint, minhash_signature, word_shingles, … —
  *     come along);
  *  2. SQL-callable sketch AGGREGATES ([[registerSpaceSaving]]): the typed
  *     SpaceSaving summary as a named UDAF, so `GROUP BY` queries can build
  *     mergeable heavy-hitter summaries the way they call `sum`;
  *  3. operator-backed VIEWS for whole-operator entry points whose logic a
  *     SQL author should not re-derive (BM25 top-k, exact-dedup groups) —
  *     lazy DataFrames behind names, planned and optimized only when a SQL
  *     query actually selects from them.
  *
  * q150-q152 pin this surface against the SAME DuckDB oracles as their
  * Scala-authored counterparts (q34/q147/q133).
  */
object GraftSql {

  /** Fixture parquet tables as `<name>_v` temp views. */
  def registerTables(
      spark: SparkSession,
      dir: String,
      tables: Seq[String] = Seq("documents", "events", "embeddings")): Unit =
    tables.foreach(t => Tables(spark, dir, t).createOrReplaceTempView(s"${t}_v"))

  /** Register the SpaceSaving summary as a SQL-callable aggregate under
    * `name`: `SELECT g, <name>('', item, w) FROM ... GROUP BY g` returns the
    * array<struct<item,cnt,err>> summary (exact while no eviction occurs —
    * see [[Sketches.SpaceSavingAgg]]). Capacity is bound at registration
    * (it parameterizes the aggregator instance, like the Scala API). */
  def registerSpaceSaving(spark: SparkSession, name: String, capacity: Int): Unit =
    spark.udf.register(name,
      udaf(new Sketches.SpaceSavingAgg(capacity),
        Encoders.product[StreamingTopK.ItemIn]))

  /** Operator-backed temp views over the fixture corpus. */
  def registerOperatorViews(spark: SparkSession, dir: String): Unit = {
    val docs = Tables(spark, dir, "documents")
    Dedup.exact(docs).createOrReplaceTempView("graft_dedup_groups")
    Retrieval.bm25TopK(docs, nQueryTerms = 10, topK = 10)
      .createOrReplaceTempView("graft_bm25_topk")
  }

  /** Per-user triangle/clustering view (`graft_user_triangles`). NOT part
    * of [[registerAll]]: `triangleCounts` materializes its edge frame
    * eagerly (localCheckpoint — the loop discipline), so this registration
    * runs Spark jobs at call time; clients opt in per view — a client that
    * only selects triangles must not pay the community propagation (and
    * vice versa), which is why the two graph views register separately. */
  def registerTriangleView(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, dir, "events")
    val tc = Graph.triangleCounts(Graph.coEngagementEdges(ev))
    ev.select(col("user_id")).distinct()
      .join(tc.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        coalesce(col("clustering"), lit(0.0)).as("clustering"))
      .createOrReplaceTempView("graft_user_triangles")
  }

  /** Community-label view (`graft_user_communities`): synchronous LPA, the
    * q177 contract (4 rounds, isolated users keep their own id) — a SQL
    * client groups/joins on `community` without re-deriving the
    * propagation. Eager at registration (the LPA loop materializes its
    * result once, on the [[graft.operators.Loops]] kernel), so clients opt
    * in per view, same as [[registerTriangleView]]. */
  def registerCommunityView(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, dir, "events")
    val lp = Graph.labelPropagation(Graph.coEngagementEdges(ev), rounds = 4)
    ev.select(col("user_id")).distinct()
      .join(lp.withColumnRenamed("node", "user_id"), Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("community"), col("user_id")).as("community"))
      .createOrReplaceTempView("graft_user_communities")
  }

  /** Both graph views. Convenience for clients that want the whole graph
    * surface; pays BOTH eager materializations — select-one clients should
    * call the per-view registration instead. */
  def registerGraphViews(spark: SparkSession, dir: String): Unit = {
    registerTriangleView(spark, dir)
    registerCommunityView(spark, dir)
  }

  /** Media-hash view over the fixture corpus: `graft_image_ahash` exposes
    * (asset_id, ahash) for every decodable image asset — the real
    * javax.imageio decode + 8x8 average-hash pipeline behind a name, so a
    * SQL author can band/join/dedup media without touching the codec path.
    * Lazy like every operator view (mapPartitions plans with the selecting
    * query; no jobs run at registration). */
  def registerMediaViews(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    Multimodal.imageAHash(
        Multimodal.withSyntheticPatternImages(
          Multimodal.assetize(Tables(spark, dir, "documents")))
          .filter(col("media_type") === "image"))
      .toDF().filter(col("decoded"))
      .select(col("asset_id"), col("ahash"))
      .createOrReplaceTempView("graft_image_ahash")
  }

  /** Register the mergeable HLL estimate as a SQL-callable aggregate:
    * `SELECT g, round(<name>(item), 6) FROM ... GROUP BY g` — approximate
    * distinct with the engine-portable md5 construction, so an external
    * SQL engine can rebuild the identical sketch. */
  def registerHll(spark: SparkSession, name: String, b: Int): Unit =
    spark.udf.register(name,
      udaf(new Sketches.HllAgg(b), Encoders.STRING))

  /** Register the mergeable quantile summary as a SQL-callable aggregate:
    * `SELECT g, <name>(CAST(x AS DOUBLE)) FROM ... GROUP BY g` returns the
    * array<double> of quantile values at `ps` (exact rank selection while
    * the group count stays within `capacity` — see
    * [[Sketches.QuantileAgg]]). Capacity and the quantile list bind at
    * registration, like the Scala API's constructor parameters. */
  def registerQuantile(spark: SparkSession, name: String, capacity: Int,
      ps: Seq[Double]): Unit =
    spark.udf.register(name,
      udaf(new Sketches.QuantileAgg(capacity, ps), Encoders.scalaDouble))

  /** Everything a SQL-only client needs, in one call. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    registerTables(spark, dir)
    registerSpaceSaving(spark, "ss_summary_64", 64)
    registerHll(spark, "hll_distinct_12", 12)
    registerQuantile(spark, "qsummary_1024", 1024, Seq(0.25, 0.5, 0.75, 0.95))
    registerOperatorViews(spark, dir)
  }
}
