package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics as relational fixed-point loops — each
  * iteration is one hash join (ranks ⋈ edges, keyed by node) plus one
  * map-side-combined aggregation, the same round shape as [[Dedup]]'s
  * connected-components loop. Nothing graph-specific is materialized on the
  * driver: the node set, edge list, and rank vector all stay distributed,
  * partitioned by node id, so a 10^9-node graph runs the identical plan with
  * more partitions.
  *
  * Determinism: ranks are FIXED-POINT integers (micro-units, `scale` = one).
  * Floating-point PageRank sums per-edge contributions in shuffle order, so
  * two runs — or two engines — can disagree in the last ulp and round apart.
  * With integer contributions (`(rank·w) div out`, floor division on
  * nonneg longs) every sum is exact and associative: Spark and the SQL
  * oracle agree bit-for-bit at any parallelism. Production ranking systems
  * make the same trade (fixed-point mass conservation) for reproducible
  * incremental recomputes; the quantization error per edge is < 1/scale.
  */
object Graph {

  /** The user-session transition multigraph over an event log: one weighted
    * edge (src, dst, cnt) per ordered pair of CONSECUTIVE events of the
    * same user (ordered by ts, then event id for equal timestamps). The
    * single source of truth for every query built on event flow — the
    * Markov transition matrix (q122) and flow centrality (q138) must rank
    * over the SAME graph, so they share this derivation.
    *
    * Scale shape: one window partitioned by user (bounded sessions, never
    * a global sort) feeding a map-side-combined (src, dst) count. */
  def eventTransitionEdges(
      events: DataFrame,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events
      .select(col(userCol), col(typeCol),
        lead(col(typeCol), 1).over(
          Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol)))
          .as("_next"))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("src"), col("_next").as("dst"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Weighted PageRank by power iteration, damping `dampPct`/100.
    *
    * `edges`: (src, dst, cnt) with positive long weights. Nodes are
    * everything appearing as src or dst. Dangling mass (nodes with no
    * out-edges) is dropped rather than redistributed — the standard
    * simplification; totals then need no global rank-sum broadcast per
    * round, keeping each iteration a purely node-local join + aggregate.
    *
    * rank₀ = scale; rankᵢ₊₁(v) = ((100−dampPct)·scale) div 100
    *   + (dampPct · Σᵤ (rankᵢ(u)·cnt(u,v)) div out(u)) div 100
    *
    * Overflow headroom: rank ≤ nodes·scale and contributions multiply by an
    * edge count, so the intermediate fits a long whenever
    * nodes·scale·maxCnt < 2⁶³ — 10⁶ nodes at the default micro-scale leaves
    * 6 orders of magnitude for edge weights. Past it the loop fails loudly
    * (exact arithmetic), never wraps.
    *
    * Round shape: the co-partitioned join of the RDD paper (Zaharia et al.,
    * NSDI'12 §3.2.2). Links and the node set are hash-partitioned by node
    * ONCE, under one partitioner of `spark.sql.shuffle.partitions` width,
    * and persisted for the loop; every rank vector keeps that partitioner.
    * So each round's links⋈ranks and nodes⋈contrib joins are narrow, and
    * the dst-keyed contribution sum — the propagation itself — is the
    * round's only shuffle. Rounds are stages, not jobs: a run of up to
    * [[LineageRounds]] rounds is one Spark job (see [[pageRankRdd]]).
    *
    * Null nodes keep the SQL equi-join semantics the recurrence was first
    * written in (a null key matches nothing): edges out of a null src never
    * propagate, mass sent to a null dst is dropped (it still counts in the
    * sender's out-degree), and a null node ranks at the teleport floor.
    * RDD joins DO match null keys, so the loop filters them explicitly.
    */
  def pageRankFixedPoint(
      edges: DataFrame,
      iters: Int = 10,
      dampPct: Long = 85,
      scale: Long = 1000000L,
      srcCol: String = "src",
      dstCol: String = "dst",
      cntCol: String = "cnt"): DataFrame = {
    require(iters >= 0 && dampPct >= 0 && dampPct <= 100)
    // Canonicalize to one row per (src, dst): duplicate edge rows must sum
    // their weights BEFORE the floor-divided contribution, or the
    // quantization would depend on how the edge list happened to be split.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(cntCol).cast("long").as("cnt"))
      .groupBy("src", "dst").agg(sum("cnt").as("cnt"))
    val (ranks, held) = pageRankRdd(e, iters, dampPct, scale)
    val schema = StructType(Seq(
      StructField("node", e.schema("src").dataType,
        e.schema("src").nullable || e.schema("dst").nullable),
      StructField("rank", LongType, nullable = false)))
    // One materialization for the whole loop: the returned frame is backed
    // by rows (reliable checkpoint storage when the session asks for it),
    // so the loop's persisted inputs can be released before returning.
    val out = Loops.roundCheckpoint(e.sparkSession.createDataFrame(
      ranks.map { case (n, r) => Row(n, r) }, schema))
    held.foreach(_.unpersist(blocking = false))
    out
  }

  /** Rounds between materializations of the rank vector in long runs. A run
    * of at most this many rounds is one Spark job; a longer one builds a
    * DAG of at most this many rounds per job instead of one deep DAG. */
  private[operators] val LineageRounds = 10

  /** The PageRank loop over the canonical edge frame `e` (src, dst, cnt;
    * one row per pair). Returns the rank RDD — not yet materialized, keyed
    * by node under the loop's partitioner — and the persisted RDDs its
    * lineage reads, which the caller releases once it has materialized the
    * ranks. */
  private[operators] def pageRankRdd(
      e: DataFrame,
      iters: Int,
      dampPct: Long,
      scale: Long): (RDD[(Any, Long)], Seq[RDD[_]]) = {
    // Binary keys hash by array identity on the JVM, so two equal byte
    // strings would land apart and never join.
    require(e.schema("src").dataType != BinaryType,
      "pageRankFixedPoint: binary node ids are not supported")
    val spark = e.sparkSession
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj = e.rdd.map(r => (r.get(0), (r.get(1), r.get(2)))).partitionBy(part)
    val nodes = adj.flatMap { case (s, (d, _)) => Iterator(s -> (), d -> ()) }
      .reduceByKey(part, (a, _) => a)
    // SQL's sum skips a null weight and its join matches no null src.
    val weighted = adj
      .flatMapValues { case (d, w) => Option(w).map(w => (d, w.asInstanceOf[Long])) }
      .filter(_._1 != null)
    val outDeg = weighted.mapValues(_._2).reduceByKey(part, (a, b) => Math.addExact(a, b))
    val links = weighted.join(outDeg, part)
      .flatMapValues { case ((d, w), out) => if (d == null) None else Some((d, w, out)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.persist(StorageLevel.MEMORY_AND_DISK)
    val base = (100L - dampPct) * scale / 100L
    var ranks: RDD[(Any, Long)] = nodes.mapValues(_ => scale)
    var frontier: RDD[(Any, Long)] = null
    for (i <- 1 to iters) {
      val contrib = links.join(ranks, part)
        .map { case (_, ((d, w, out), rank)) => (d, Math.multiplyExact(rank, w) / out) }
        .reduceByKey(part, (a, b) => Math.addExact(a, b))
      ranks = nodes.leftOuterJoin(contrib, part).mapValues { case (_, c) =>
        Math.addExact(base, Math.multiplyExact(dampPct, c.getOrElse(0L)) / 100L)
      }
      if (i % LineageRounds == 0 && i < iters) {
        // Truncate here; the RDD form keeps the partitioner, so the next
        // rounds' joins stay narrow. The previous frontier is unreachable
        // once this one is materialized.
        Loops.markCheckpoint(spark, ranks)
        ranks.count()
        if (frontier != null) frontier.unpersist(blocking = true)
        frontier = ranks
      }
    }
    (ranks, Seq(links, nodes) ++ Option(frontier))
  }

  /** User co-engagement graph over an event log: an undirected edge (src <
    * dst) between users sharing at least `minShared` of their top-`topK`
    * `props.k` feature values (ties in the per-user top-K break by count
    * desc then k asc — deterministic). The pair stage joins on the feature
    * value, so bucket occupancy is users-per-feature, never all-pairs —
    * but one feature in the top-K of a large user fraction still makes its
    * bucket near-quadratic. `maxUsersPerFeature` is the same degenerate-
    * bucket lever as the LSH/signature generators ([[Dedup.capBuckets]]):
    * buckets above the cap keep their `cap` lowest user ids and the drop
    * count is logged (recall-only loss — edges through the hottest feature
    * are the least informative, exactly the Adamic-Adar hub argument).
    * The cap here is a HARD bound (exactGuard — the guard runs the exact
    * occupancy pass, not capBuckets' sampled fast-path, so the promise
    * above holds for every bucket, not with-overwhelming-probability).
    * Default 0 = uncapped, the exhaustive oracle-checkable form; a 100 TB
    * deployment sets it to a few thousand. */
  def coEngagementEdges(
      events: DataFrame,
      topK: Int = 5,
      minShared: Int = 2,
      maxUsersPerFeature: Int = 0,
      userCol: String = "user_id",
      propsCol: String = "props"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uk = events.select(col(userCol).as("user_id"),
        get_json_object(col(propsCol), "$.k").cast("long").as("k"))
      .groupBy(col("user_id"), col("k")).agg(count(lit(1)).as("cnt"))
    val topUncapped = uk.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("cnt").desc, col("k"))))
      .filter(col("rn") <= topK).select(col("user_id"), col("k"))
    val top = Dedup.capBuckets(
        topUncapped.withColumnRenamed("user_id", "id"), Seq("k"),
        maxUsersPerFeature, "coEngagementEdges", exactGuard = true)
      .withColumnRenamed("id", "user_id")
    top.as("a").join(top.as("b"),
        col("a.k") === col("b.k") && col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("src"), col("dst"))
  }

  /** Adamic-Adar link prediction: for every ORDERED non-adjacent pair
    * (src, cand) with at least one common neighbor, the score
    * Σ_z 1/ln(deg z) over common neighbors z — the classic
    * common-neighbors recommender, hub-discounted by the log. Wedges
    * enumerate per apex (one self-join of the adjacency list keyed by the
    * apex), so work is Σ C(deg z, 2); apexes above `maxHubDegree` are
    * EXCLUDED — the standard cap, principled here because a hub's
    * per-wedge contribution 1/ln(deg) is already near-worthless while its
    * wedge count is quadratic (the same degenerate-bucket lever as LSH
    * caps; the cap is part of the operator's contract, not a silent drop).
    * Per-wedge weights round to the 6-dp grid BEFORE the exact DECIMAL
    * sum, so scores are order-independent and engine-identical. */
  def adamicAdar(
      edges: DataFrame,
      maxHubDegree: Int = 128,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
    // Wedge fan-out guard (r18, guide §2.5): the wedge self-join's INPUT is
    // tiny (the capped adjacency list), so AQE coalesces its exchanges down
    // to ONE partition — but the join's OUTPUT is quadratic per apex
    // (Σ C(deg, 2) wedges), and the q167 profile showed the whole wedge
    // stage + partial aggregate running 5.6 s in ONE task (21.8 MB of
    // partial-agg output from a 0.1 MB input). The EXPLICIT-width hash
    // repartition on the apex — placed directly over the checkpointed
    // adjacency, whose Scan ExistingRDD carries no known partitioning, so
    // the optimizer cannot elide it as redundant — survives as a
    // REPARTITION_BY_NUM exchange AQE may not re-coalesce, and every
    // apex-keyed consumer below (degree agg, weight join, both wedge
    // sides) reuses that ONE exchange at full width instead of adding its
    // own coalescible one. Width follows the session conf (local cores
    // here, cluster-sized there), never a constant.
    val wedgeWidth =
      edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sym = und.select(col("x").as("node"), col("y").as("nb"))
      .union(und.select(col("y").as("node"), col("x").as("nb")))
      .localCheckpoint(true) // adjacency: wedge sides + anti-join + degrees
      .repartition(wedgeWidth, col("node"))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("d"))
    // d >= 2: a degree-1 node can never be a wedge apex, and ln(1) = 0
    // would make the weight projection divide by zero under ANSI mode
    val capped = sym.join(
        deg.filter(col("d") >= 2 && col("d") <= maxHubDegree), "node")
      .withColumn("w", round(lit(1.0) / log(col("d").cast("double")), 6))
    val wedges = capped.as("a").join(capped.as("b"),
        col("a.node") === col("b.node") && col("a.nb") =!= col("b.nb"))
      .select(col("a.nb").as("src"), col("b.nb").as("cand"), col("a.w").as("w"))
    // aggregate FIRST (map-side combinable — the wedge stream never hits
    // the shuffle at full fan-out), THEN anti-join the far smaller
    // distinct-pair frame against the adjacency to drop existing links
    wedges
      .groupBy(col("src"), col("cand"))
      .agg(count(lit(1)).as("common_neighbors"),
        expr("CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE)").as("aa_score"))
      .join(sym.select(col("node").as("src"), col("nb").as("cand")),
        Seq("src", "cand"), "left_anti") // existing links are not predictions
  }

  /** The k-core of an undirected simple graph (maximal subgraph where every
    * node keeps degree >= k), by iterative peeling: each round drops nodes
    * whose CURRENT degree is below k and the edges touching them, until a
    * fixed point. One degree aggregation + two semi-joins per round, edges
    * localCheckpoint'd so round plans stay constant-depth — the identical
    * loop discipline as [[pageRankFixedPoint]] and the CC rounds. The one
    * driver pull per round is a single count (the CC-loop convention) used
    * only for the early exit; peeling is MONOTONE, so exiting at the fixed
    * point equals running all `maxRounds` rounds — which is what makes an
    * unrolled fixed-round SQL oracle bit-comparable regardless of where
    * convergence lands. Returns (node, core_degree) for the surviving
    * subgraph (empty when the core is empty).
    *
    * Round budget is NEVER a silent truncation (the IntervalJoin
    * "no silent loss" policy): peeling removes at least one layer per
    * round, so a path/tendril deeper than `maxRounds` hops can exhaust the
    * budget with sub-k nodes still in the result. If the loop exits with
    * the last round still removing edges, `strict = true` (default) throws
    * with the remaining-edge count; `strict = false` logs a warning and
    * returns the partially-peeled graph (every returned node still has
    * current-degree >= k minus the unpeeled tail — useful only for
    * budget-bounded previews). */
  def kCore(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 16,
      strict: Boolean = true,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    var e = Loops.roundCheckpoint(edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct())
    var prev = e.count()
    var round = 0
    var converged = prev == 0L
    while (prev > 0L && round < maxRounds) {
      val deg = e.select(explode(array(col("x"), col("y"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("node"))
      val e2 = Loops.roundCheckpoint(e
        .join(keep.withColumnRenamed("node", "x"), Seq("x"), "left_semi")
        .join(keep.withColumnRenamed("node", "y"), Seq("y"), "left_semi")
        .select(col("x"), col("y")))
      val n = e2.count()
      val done = n == prev || n == 0L
      prev = n
      e = e2
      round += 1
      if (done) { converged = true; round = maxRounds } // fixed point
    }
    if (!converged) {
      val msg = s"kCore(k=$k) exhausted maxRounds=$maxRounds before the " +
        s"fixed point: the last round still removed edges ($prev edges " +
        "remain, some may have degree < k). Raise maxRounds or pass " +
        "strict = false for a budget-bounded preview."
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    e.select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — the standard
    * community-detection pass over a curation graph: every node starts in
    * its own community, and each round every node adopts the MOST FREQUENT
    * label among its neighbors' previous-round labels (ties break to the
    * smallest label). Runs exactly `rounds` synchronous rounds: LPA is not
    * monotone (labels can oscillate on bipartite structures), so a fixed
    * round count IS the deterministic contract — unlike kCore's monotone
    * fixed point there is no convergence early-exit to take. With integer
    * counts and the min tie-break every round is a pure function of the
    * previous labels, independent of partitioning and engine — what lets
    * an unrolled SQL CTE chain recompute it bit-for-bit.
    *
    * Round shape: one hash join (adjacency ⋈ labels, keyed by neighbor) +
    * one map-side-combinable (node, label) count + one per-node top-1
    * window (partitioned by node — bounded by max degree, never global),
    * labels localCheckpoint'd per round so plans stay constant-depth: the
    * identical loop discipline as [[pageRankFixedPoint]]. No driver pulls
    * at all — the loop is fixed-length. Returns (node, community). */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    import org.apache.spark.sql.expressions.Window
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
    val sym = Loops.roundCheckpoint(
      und.select(col("x").as("node"), col("y").as("nb"))
        .union(und.select(col("y").as("node"), col("x").as("nb"))))
    var labels = Loops.roundCheckpoint(sym.select(col("node")).distinct()
      .select(col("node"), col("node").as("label")))
    // Per-round top-1 is ONE deterministic mode() aggregate (r18, guide
    // §2.3/§2.4): mode(label, deterministic = true) returns the most
    // frequent neighbor label with ties to the LOWEST value — exactly the
    // former (node, label)-count + row_number window's (c DESC, label ASC)
    // rule — in a single node-keyed exchange with map-side partial
    // aggregation (per-node label->count maps merge associatively), where
    // the window shape paid TWO exchanges and a per-partition sort per
    // round.
    for (_ <- 1 to rounds) {
      labels = Loops.roundCheckpoint(sym
        .join(labels.select(col("node").as("nb"), col("label")), "nb")
        .groupBy(col("node"))
        .agg(mode(col("label"), deterministic = true).as("label")))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Per-node triangle counts + degrees + clustering coefficient over an
    * undirected simple graph, via DEGREE-ORDERED edge orientation — the
    * classic sub-quadratic distributed triangle algorithm (Suri &
    * Vassilvitskii, WWW'11; Cohen's MR graph toolkit): orient every edge
    * from its lower-(degree, id) endpoint to the higher, so each node's
    * OUT-degree is O(sqrt(m)); wedges then enumerate as out-neighbor pairs
    * of a common apex (sum of C(outdeg, 2) <= O(m^1.5) rows, regardless of
    * skew — a star graph generates ZERO wedges at its hub because all its
    * edges point outward-by-degree INTO the hub), and each wedge closes
    * with one hash join against the canonical edge set. Every triangle is
    * counted exactly once: its apex is its (degree, id)-minimum vertex.
    *
    * `edges`: (srcCol, dstCol) rows, any orientation, duplicates and
    * self-loops tolerated (canonicalized away). Returns (node, degree,
    * triangles, clustering) for every node in the edge set, clustering =
    * round(2*triangles / (degree*(degree-1)), 6), 0 when degree < 2. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      // referenced by degrees, orientation, and the wedge-closing join
      .localCheckpoint(true)
    val deg = und.select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("node").as("x"), col("degree").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("degree").as("dy")), "y")
    val oriented = withDeg.select(
        when(col("dx") < col("dy") ||
            (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("x").as("s"), col("y").as("t")))
          .otherwise(struct(col("y").as("s"), col("x").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint(true) // both wedge sides read it
      // same wedge fan-out guard as adamicAdar (r18): pin the self-join's
      // width so AQE's input-sized coalescing can't serialize the
      // quadratic-output wedge enumeration onto one task
      .repartition(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("s"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val tri = wedges.join(und,
        least(col("b"), col("c")) === col("x") &&
        greatest(col("b"), col("c")) === col("y"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)))
  }
}
