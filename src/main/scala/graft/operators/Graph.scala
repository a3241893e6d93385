package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Graph analytics over edge frames. The iterative ones (PageRank, k-core,
  * label propagation) run on the [[Loops]] fixed-point kernel: each round
  * is narrow joins against the node-partitioned edges plus one map-side-
  * combined propagation shuffle, the same round shape as [[Dedup]]'s
  * connected-components loop. Nothing graph-specific is materialized on the
  * driver: the node set, edge list, and rank vector all stay distributed,
  * partitioned by node id, and the rounds join and reduce with Spark's
  * spilling `join`/`reduceByKey`, so a 10^9-node graph runs the identical
  * plan with more partitions (a loop is as wide as its input, up to the
  * shuffle width).
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
    * Round shape ([[Loops]]): links and the node set are hash-partitioned
    * by node once and persisted, so each round's links⋈ranks and
    * nodes⋈contrib joins are narrow and the dst-keyed contribution sum —
    * the propagation itself — is the round's only shuffle. Rounds are
    * stages, not jobs: a run of up to [[Loops.LineageRounds]] rounds is one
    * Spark job.
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
    val schema = StructType(Seq(
      StructField("node", e.schema("src").dataType,
        e.schema("src").nullable || e.schema("dst").nullable),
      StructField("rank", LongType, nullable = false)))
    Loops.run(e, schema) { loop =>
      loop.iterate(pageRankLoop(loop, dampPct, scale), iters)
        .map { case (n, r) => Row(n, r) }
    }
  }

  /** The PageRank loop over the loop's input, the canonical edge frame
    * (src, dst, cnt; one row per pair): ranks keyed by node, starting at
    * `scale`. */
  private[operators] def pageRankLoop(
      loop: Loops.Loop,
      dampPct: Long,
      scale: Long): Loops.FixedPoint[Any, Long] = {
    Loops.idOrdering("pageRankFixedPoint", loop.input.schema("src").dataType) // refuses binary ids
    val part = loop.part
    val adj = loop.rows.map(r => (r.get(0), (r.get(1), r.get(2)))).partitionBy(part)
    val nodes = loop.static(adj.flatMap { case (s, (d, _)) => Iterator(s -> (), d -> ()) }
      .reduceByKey(part, (a, _) => a))
    // SQL's sum skips a null weight and its join matches no null src.
    val weighted = adj
      .flatMapValues { case (d, w) => Option(w).map(w => (d, w.asInstanceOf[Long])) }
      .filter(_._1 != null)
    val outDeg = weighted.mapValues(_._2).reduceByKey(part, (a, b) => Math.addExact(a, b))
    val links = loop.static(weighted.join(outDeg, part)
      .flatMapValues { case ((d, w), out) => if (d == null) None else Some((d, w, out)) })
    val base = (100L - dampPct) * scale / 100L
    Loops.FixedPoint(nodes.mapValues(_ => scale), ranks => {
      val contrib = links.join(ranks, part)
        .map { case (_, ((d, w, out), rank)) => (d, Math.multiplyExact(rank, w) / out) }
        .reduceByKey(part, (a, b) => Math.addExact(a, b))
      nodes.leftOuterJoin(contrib, part).mapValues { case (_, c) =>
        Math.addExact(base, Math.multiplyExact(dampPct, c.getOrElse(0L)) / 100L)
      }
    })
  }

  /** The undirected simple graph of an edge frame: one (x, y) row per
    * unordered pair, x < y; self-loops, duplicates and rows with a null
    * endpoint (`least`/`greatest` skip the null, leaving x = y) drop out. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()

  /** Both directions of every `undirected` row, keyed by the first. */
  private def symmetric(und: RDD[Row]): RDD[(Any, Any)] =
    und.flatMap(r => Iterator((r.get(0), r.get(1)), (r.get(1), r.get(0))))

  /** User co-engagement graph over an event log: an undirected edge (src <
    * dst) between users sharing at least `minShared` of their top-`topK`
    * `props.k` feature values (ties in the per-user top-K break by count
    * desc then k asc — deterministic). The pair stage joins on the feature
    * value, so bucket occupancy is users-per-feature, never all-pairs —
    * but one feature in the top-K of a large user fraction still makes its
    * bucket near-quadratic. `maxUsersPerFeature` is the same degenerate-
    * bucket lever as the LSH/signature generators: the pair stage is a
    * [[Dedup.bucketPairs]] self-join keyed by the feature, whose buckets
    * above the cap keep their `cap` lowest user ids and log the drop
    * count (recall-only loss — edges through the hottest feature are the
    * least informative, exactly the Adamic-Adar hub argument). The cap
    * here is a HARD bound (`exactGuard`: the exact occupancy pass, not
    * the sampled probe, so the promise above holds for every bucket, not
    * with-overwhelming-probability). Default 0 = uncapped, the exhaustive
    * oracle-checkable form; a 100 TB deployment sets it to a few thousand. */
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
    val top = uk.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("cnt").desc, col("k"))))
      .filter(col("rn") <= topK).select(col("user_id").as("id"), col("k"))
    Dedup.bucketPairs(top, Seq("k"), maxUsersPerFeature, "coEngagementEdges",
        exactGuard = true) {
      _.groupBy(col("l.id").as("src"), col("r.id").as("dst"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .select(col("src"), col("dst"))
    }
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
    val und = undirected(edges, srcCol, dstCol)
    // Wedge fan-out guard (r18, guide §2.5): the wedge self-join's INPUT is
    // tiny (the capped adjacency list), so AQE coalesces its exchanges down
    // to ONE partition — but the join's OUTPUT is quadratic per apex
    // (Σ C(deg, 2) wedges), and the q167 profile showed the whole wedge
    // stage + partial aggregate running 5.6 s in ONE task (21.8 MB of
    // partial-agg output from a 0.1 MB input). Spreading on the apex
    // directly over the materialized adjacency — whose Scan ExistingRDD
    // carries no known partitioning, so the optimizer cannot elide the
    // exchange as redundant — gives every apex-keyed consumer below (degree
    // agg, weight join, both wedge sides) that ONE exchange at full width
    // instead of its own coalescible one.
    val sym = Layout.spread(Materialize.shared()(
        und.select(col("x").as("node"), col("y").as("nb"))
          .union(und.select(col("y").as("node"), col("x").as("nb")))),
      col("node"))
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
    * fixed point. On the [[Loops]] kernel a round is one narrow join of the
    * node-partitioned adjacency with the degree vector and one shuffle
    * (alive nodes count their alive neighbours), and its convergence read —
    * the remaining and the removed edge count — rides the one action that
    * materializes the round. Peeling is MONOTONE, so exiting at the fixed
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
    val und = undirected(edges, srcCol, dstCol)
    Loops.run(und, nodeSchema(und, "core_degree", LongType)) { loop =>
      loop.iterate(kCoreLoop(loop, k), maxRounds, strict)
        .flatMap { case (n, (d, _)) => if (d > 0L) Some(Row(n, d)) else None }
    }
  }

  /** The (node, `name`) schema of a loop over `und`'s node ids. */
  private def nodeSchema(und: DataFrame, name: String, dt: DataType): StructType =
    StructType(Seq(StructField("node", und.schema("x").dataType), StructField(name, dt)))

  /** The peeling loop over the loop's input, `undirected` edges: every
    * node's degree among the surviving nodes, paired with its degree a
    * round earlier (a peeled node stays, at degree 0). */
  private[operators] def kCoreLoop(loop: Loops.Loop, k: Int)
      : Loops.FixedPoint[Any, (Long, Long)] = {
    val part = loop.part
    val adj = loop.static(symmetric(loop.rows))
    Loops.FixedPoint(
      adj.mapValues(_ => 1L).reduceByKey(part, _ + _).mapValues(d => (d, d)),
      deg => {
        // alive nodes count their alive neighbors
        val alive = adj.join(deg, part)
          .flatMap { case (_, (nb, (d, _))) => if (d >= k) Some((nb, 1L)) else None }
          .reduceByKey(part, _ + _)
        deg.leftOuterJoin(alive, part).mapValues { case ((d, _), a) =>
          (if (d >= k) a.getOrElse(0L) else 0L, d)
        }
      },
      // sums: (edge ends left, edge ends removed this round)
      Some(Loops.Read[(Long, Long)](
        { case (d, before) => (d, before - d) },
        { case (ends, gone) => gone == 0L || ends == 0L },
        { case ((ends, _), maxRounds) =>
          s"kCore(k=$k) exhausted maxRounds=$maxRounds before the " +
            s"fixed point: the last round still removed edges (${ends / 2} edges " +
            "remain, some may have degree < k). Raise maxRounds or pass " +
            "strict = false for a budget-bounded preview." })))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — the standard
    * community-detection pass over a curation graph: every node starts in
    * its own community, and each round every node adopts the MOST FREQUENT
    * label among its neighbors' previous-round labels (ties break to the
    * smallest label, in Spark SQL's order). Runs exactly `rounds`
    * synchronous rounds: LPA is not monotone (labels can oscillate on
    * bipartite structures), so a fixed round count IS the deterministic
    * contract — unlike kCore's monotone fixed point there is no
    * convergence read. With integer counts and the min tie-break every
    * round is a pure function of the previous labels, independent of
    * partitioning and engine — what lets an unrolled SQL CTE chain
    * recompute it bit-for-bit.
    *
    * Round shape ([[Loops]]): one narrow join of the node-partitioned
    * adjacency with the labels, then one node-keyed shuffle carrying
    * per-node label counts, combined map-side. Rounds are stages, not
    * jobs: up to [[Loops.LineageRounds]] rounds are one Spark job.
    * Returns (node, community). */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val und = undirected(edges, srcCol, dstCol)
    Loops.run(und, nodeSchema(und, "community", und.schema("x").dataType)) { loop =>
      loop.iterate(labelPropagationLoop(loop), rounds).map { case (n, l) => Row(n, l) }
    }
  }

  /** The label loop over the loop's input, `undirected` edges, starting
    * from label = node. */
  private[operators] def labelPropagationLoop(loop: Loops.Loop): Loops.FixedPoint[Any, Any] = {
    val ord = Loops.idOrdering("labelPropagation", loop.input.schema("x").dataType)
    val part = loop.part
    val adj = loop.static(symmetric(loop.rows))
    def merge(a: Map[Any, Long], b: Map[Any, Long]) =
      b.foldLeft(a) { case (m, (l, n)) => m.updated(l, m.getOrElse(l, 0L) + n) }
    Loops.FixedPoint(
      adj.mapPartitions(_.map { case (n, _) => (n, n) }, preservesPartitioning = true)
        .reduceByKey(part, (a, _) => a),
      labels => adj.join(labels, part)
        .map { case (_, (nb, l)) => (nb, Map(l -> 1L)) }
        .reduceByKey(part, merge(_, _))
        // the most frequent neighbor label, ties to the lowest
        .mapValues(_.reduce { (a, b) =>
          if (a._2 > b._2 || (a._2 == b._2 && ord.lt(a._1, b._1))) a else b
        }._1))
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
    val und = Materialize.shared()(undirected(edges, srcCol, dstCol))
    val deg = und.select(explode(array(col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("node").as("x"), col("degree").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("degree").as("dy")), "y")
    // same wedge fan-out guard as adamicAdar (r18): spread the self-join's
    // input so the quadratic-output wedge enumeration is not one task
    val oriented = Layout.spread(Materialize.shared()(withDeg.select(
        when(col("dx") < col("dy") ||
            (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("x").as("s"), col("y").as("t")))
          .otherwise(struct(col("y").as("s"), col("x").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))),
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
