package graft.operators

import graft.SparkSpec
import org.apache.spark.{HashPartitioner, OneToOneDependency, Partitioner, ShuffleDependency}
import org.apache.spark.rdd.{CoGroupedRDD, RDD}
import org.apache.spark.sql.DataFrame

/** Fixed-point PageRank pinned against a single-threaded reference
  * implementation of the same integer recurrence, plus its structural
  * invariants (fixed points, dangling mass, determinism at any
  * parallelism) and the shape of its loop (co-partitioned narrow joins,
  * one job per call, no leaked storage). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: the exact recurrence from Graph.pageRankFixedPoint, run
    * sequentially on the driver. */
  private def refRanks(edges: Seq[(String, String, Long)], iters: Int,
      scale: Long = 1000000L): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, c) => rank(s) * c / out(s) }.sum
      }
      rank = nodes.map(n => n -> (150000L + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(String, String, Long)], iters: Int = 10): Map[String, Long] =
    Graph.pageRankFixedPoint(edges.toDF("src", "dst", "cnt"), iters = iters)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank")).toMap

  /** One row per (src, dst) with summed weights, as the operator
    * canonicalizes its input. */
  private def canonical(edges: Seq[(String, String, Long)]): Seq[(String, String, Long)] =
    edges.groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq

  /** Runs `f` on a fresh loop over `input`, releasing what the loop
    * persisted after. */
  private def withLoop[T](input: DataFrame)(f: Loops.Loop => T): T = {
    val loop = new Loops.Loop(input)
    try f(loop) finally loop.release()
  }

  /** Runs the loop on canonical edges and hands its rank RDD and the
    * loop's partitioner to `f`, releasing the loop's persisted inputs
    * after. */
  private def withRanks[T](edges: Seq[(String, String, Long)], iters: Int)(
      f: (RDD[(Any, Long)], Partitioner) => T): T = withLoop(edges.toDF("src", "dst", "cnt")) {
    loop => f(loop.iterate(Graph.pageRankLoop(loop, 85L, 1000000L), iters), loop.part)
  }

  /** Every RDD the given one's lineage reaches, each once. */
  private def lineage(rdd: RDD[_]): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashMap[Int, RDD[_]]()
    def walk(r: RDD[_]): Unit = if (!seen.contains(r.id)) {
      seen(r.id) = r
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(rdd)
    seen.values.toSeq
  }

  /** Shuffles `rounds` unmaterialized rounds of the loop `build` makes
    * over `input` leave in the frontier's lineage, after checking that
    * every join on the way (a `CoGroupedRDD`) reads all its parents
    * narrowly under the loop's partitioner and that the frontier keeps
    * it. */
  private def roundShuffles[K, V](input: DataFrame, rounds: Int)(
      build: Loops.Loop => Loops.FixedPoint[K, V]): Int = withLoop(input) { loop =>
    val fp = build(loop)
    val out = (1 to rounds).foldLeft(fp.init)((f, _) => fp.step(f))
    val rdds = lineage(out)
    val joins = rdds.collect { case c: CoGroupedRDD[_] => c }
    assert(joins.nonEmpty == rounds > 0 && joins.forall(c =>
        c.partitioner.contains(loop.part) &&
          c.dependencies.forall(_.isInstanceOf[OneToOneDependency[_]])),
      "every join must be narrow on the loop partitioner")
    assert(out.partitioner.contains(loop.part))
    rdds.flatMap(_.dependencies).count(_.isInstanceOf[ShuffleDependency[_, _, _]])
  }

  /** K5 on 1-5 with the tendril 5-6-7-8-9: a 2-core peel drops one
    * tendril node per round, so rounds 1-4 all differ. */
  private val tendril = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
    Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))

  test("symmetric 2-cycle is a fixed point at the initial mass") {
    val got = run(Seq(("a", "b", 1L), ("b", "a", 1L)))
    assert(got === Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("matches the sequential reference on a weighted digraph with a dangling node") {
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 1L), ("b", "d", 2L)) // d dangles: no out-edges
    val got = run(edges)
    assert(got === refRanks(edges, 10))
    // A source-only node bottoms out at the teleport floor.
    val floor = run(Seq(("s", "t", 1L)))
    assert(floor("s") === 150000L)
  }

  test("deterministic across shuffle parallelism (integer arithmetic has no summation order)") {
    val edges = (1 to 200).map(i => (s"n${i % 50}", s"n${(i * 7) % 50}", (i % 5 + 1).toLong))
    val df = edges.toDF("src", "dst", "cnt")
    def ranks(in: org.apache.spark.sql.DataFrame) = Graph.pageRankFixedPoint(in, iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val ref = refRanks(canonical(edges), 5)
    // the input's partitioning
    assert(ranks(df.repartition(1)) === ref)
    assert(ranks(df.repartition(7)) === ref)
    // the session's width (the loop's partitioner) and AQE
    val conf = spark.conf
    val (width, aqe) = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.adaptive.enabled"))
    try for (w <- Seq(1, 4, 7); a <- Seq(true, false)) {
      conf.set("spark.sql.shuffle.partitions", w.toLong)
      conf.set("spark.sql.adaptive.enabled", a)
      assert(ranks(df) === ref, s"shuffle.partitions=$w adaptive=$a")
    } finally {
      conf.set("spark.sql.shuffle.partitions", width)
      conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("null nodes keep SQL join semantics (null src never propagates, mass to null is dropped); binary ids refused") {
    val got = Graph.pageRankFixedPoint(
        Seq[(String, String, Long)](("a", "b", 3L), ("a", null, 1L), (null, "b", 2L),
          ("b", "a", 1L), ("b", "c", 1L)).toDF("src", "dst", "cnt"), iters = 10)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got === Map(Some("a") -> 294216L, Some("b") -> 337872L,
      Some("c") -> 294216L, None -> 150000L))
    // byte-array ids hash by identity on the JVM: refused, not mis-joined
    intercept[IllegalArgumentException](Graph.pageRankFixedPoint(
      Seq((Array[Byte](1), Array[Byte](2), 1L)).toDF("src", "dst", "cnt")))
  }

  test("long runs bound the lineage every LineageRounds rounds and still match the reference") {
    val edges = canonical((1 to 60).map(i => (s"n${i % 13}", s"n${(i * 5) % 13}", (i % 3 + 1).toLong)))
    assert(run(edges, iters = 25) === refRanks(edges, 25))
    // rounds 21-25 are all the rank RDD still has to recompute
    def shuffles(iters: Int) = withRanks(edges, iters)((ranks, _) =>
      lineage(ranks).flatMap(_.dependencies).count(_.isInstanceOf[ShuffleDependency[_, _, _]]))
    assert(shuffles(25) === shuffles(0) + 25 - 2 * Loops.LineageRounds)
  }

  test("one call leaves exactly one persisted RDD: the returned frame's checkpoint") {
    val sc = spark.sparkContext
    val df = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L), ("c", "a", 1L)).toDF("src", "dst", "cnt")
    def leaves(what: String, rows: Long)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = f
      assert((sc.getPersistentRDDs.keySet.toSet -- before).size === 1, what)
      assert(out.count() === rows, what)
    }
    for (iters <- Seq(0, 10, 25))
      leaves(s"pageRank iters=$iters", 3L)(Graph.pageRankFixedPoint(df, iters = iters))
    for (rounds <- Seq(0, 4, 25))
      leaves(s"labelPropagation rounds=$rounds", 3L)(Graph.labelPropagation(df, rounds = rounds))
    leaves("kCore", 3L)(Graph.kCore(df, k = 2))
    leaves("nearDupClusters", 3L)(Dedup.nearDupClusters(df.toDF("id_a", "id_b", "cnt")))
  }

  test("co-partitioned rounds: one ShuffleDependency per round, every join narrow, one loop job") {
    val edges = canonical((1 to 40).map(i => (s"n${i % 9}", s"n${(i * 4) % 9}", (i % 4 + 1).toLong)))
    def shape(iters: Int) = withRanks(edges, iters) { (ranks, part) =>
      val rdds = lineage(ranks)
      val cogroups = rdds.collect { case c: CoGroupedRDD[_] => c }
      // links ⋈ ranks and nodes ⋈ contrib per round, each on the loop's
      // partitioner, plus links' own weighted ⋈ outDeg once rounds read it
      assert(cogroups.size === (if (iters == 0) 0 else 1 + 2 * iters))
      assert(cogroups.forall(c => c.partitioner.contains(part) &&
        c.dependencies.forall(_.isInstanceOf[OneToOneDependency[_]])),
        "every join must be narrow")
      assert(ranks.partitioner.contains(part))
      rdds.flatMap(_.dependencies).count(_.isInstanceOf[ShuffleDependency[_, _, _]])
    }
    val setup = shape(0)
    assert(shape(2) === setup + 2)
    assert(shape(10) === setup + 10)
    // rounds add stages, not jobs
    val df = edges.toDF("src", "dst", "cnt")
    assert(jobs(Graph.pageRankFixedPoint(df, iters = 2)) ===
      jobs(Graph.pageRankFixedPoint(df, iters = 10)))
  }

  test("co-partitioned k-core, label propagation and CC rounds: narrow joins, one job per read round") {
    // the loops read `undirected` edges: x < y, each pair once
    val und = tendril.toDF("x", "y")
    // one shuffle per round: alive nodes count their alive neighbors
    def kCore(rounds: Int) = roundShuffles(und, rounds)(Graph.kCoreLoop(_, 2))
    assert(kCore(2) === kCore(0) + 2)
    // one shuffle per round: the per-node label counts
    def lpa(rounds: Int) = roundShuffles(und, rounds)(Graph.labelPropagationLoop(_))
    assert(lpa(3) === lpa(0) + 3)
    // the neighbor-min shuffle plus the pointer jump's ask and answer
    val sym = und.union(und.select($"y", $"x")).toDF("src", "dst")
    def cc(rounds: Int) = roundShuffles(sym, rounds)(Dedup.clusterLoop(_))
    assert(cc(2) === cc(0) + 2 * 3)

    // a loop without a read adds stages, not jobs ...
    val edges = tendril.toDF("src", "dst")
    assert(jobs(Graph.labelPropagation(edges, rounds = 2)) ===
      jobs(Graph.labelPropagation(edges, rounds = 8)))
    // ... and one with a read one job per round: k-core peels one
    // tendril node per round until round 4, so each extra round is a job
    val peel = (1 to 4).map(r => jobs(Graph.kCore(edges, k = 2, maxRounds = r, strict = false)))
    assert(peel.sliding(2).forall { case Seq(a, b) => b === a + 1 }, peel)
    // CC: a pair settles in 2 rounds, a 4-node path in 3
    def ccJobs(p: Seq[(Long, Long)]) = jobs(Dedup.nearDupClusters(p.toDF("id_a", "id_b")))
    assert(ccJobs(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === ccJobs(Seq((1L, 2L))) + 1)
  }

  test("a loop is as wide as its input after AQE, at most the shuffle width") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a few edges, aggregated: AQE coalesces the shuffle to one partition
    val small = Seq(("a", "b", 1L), ("b", "c", 2L)).toDF("src", "dst", "cnt")
      .groupBy("src", "dst").sum("cnt")
    assert(withLoop(small)(_.part) === new HashPartitioner(1))
    // more input partitions than the shuffle width: capped at the width
    val wide = spark.range(0, 1000, 1, width * 4).toDF("src")
    assert(withLoop(wide)(_.part) === new HashPartitioner(width))
  }

  test("zero iterations returns the uniform initial vector") {
    val got = run(Seq(("a", "b", 1L)), iters = 0)
    assert(got === Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("triangleCounts: K4 + pendant + star, duplicates/self-loops canonicalized") {
    // K4 on 1-4 (4 triangles; each member in 3), a pendant 4-5, and a
    // star hub 10 with leaves 11-13 (no triangles, clustering 0);
    // a duplicate edge, a reversed duplicate, and a self-loop must vanish
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (2L, 1L), (1L, 2L), (7L, 7L)
    ).toDF("src", "dst")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("clustering")))).toMap
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((3L, 3L, 1.0)))
    assert(got(3L) === ((3L, 3L, 1.0)))
    assert(got(4L) === ((4L, 3L, 0.5)))   // 3 of C(4,2)=6 closed
    assert(got(5L) === ((1L, 0L, 0.0)))
    assert(got(10L) === ((3L, 0L, 0.0)))  // star hub: no closed wedges
    assert(got(11L) === ((1L, 0L, 0.0)))
    assert(!got.contains(7L))             // self-loop-only node drops out
    // total triangles counted once each: sum/3 == 4
    assert(got.values.map(_._2).sum === 12L)
  }

  test("triangleCounts matches brute force on a pseudo-random graph") {
    // deterministic pseudo-random graph on 30 nodes
    val edges = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L
      if ((a * 31 + b * 17 + 7) % 5) == 0
    } yield (a, b)).toDF("src", "dst")
    val local = edges.as[(Long, Long)].collect().toSet
    def adj(a: Long, b: Long) =
      local.contains((math.min(a, b), math.max(a, b)))
    val nodes = local.flatMap(e => Seq(e._1, e._2))
    val bruteTri = nodes.map { n =>
      val nb = nodes.filter(m => m != n && adj(n, m)).toSeq.sorted
      n -> nb.combinations(2).count { case Seq(x, y) => adj(x, y) }.toLong
    }.toMap
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("triangles")).toMap
    assert(got === bruteTri)
  }

  test("adamicAdar matches brute force; existing links excluded; leaves safe") {
    // path 1-2-3 plus triangle 3-4-5 plus leaf 5-6 (degree-1 leaf must
    // not blow up the ln weight projection)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L), (5L, 6L))
    val got = Graph.adamicAdar(edges.toDF("src", "dst")).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("cand")) ->
        ((r.getAs[Long]("common_neighbors"), r.getAs[Double]("aa_score")))).toMap
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def w(z: Long) = BigDecimal(1.0 / math.log(adj(z).size.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val nodes = adj.keySet
    val brute = (for {
      s <- nodes; c <- nodes
      if s != c && !adj(s).contains(c)
      common = adj(s).intersect(adj(c)).filter(z => adj(z).size >= 2)
      if common.nonEmpty
    } yield (s, c) ->
      ((common.size.toLong, common.toSeq.map(w).sum.toDouble))).toMap
    assert(got === brute)
    // spot check: 1 and 3 share only node 2 (degree 2) -> 1/ln 2
    assert(got((1L, 3L))._2 === BigDecimal(1.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("kCore: K5 survives k=4, tendrils peel; cascading removal converges") {
    val edges = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
      Seq((5L, 6L), (6L, 7L)) // tendril off the clique
    val core4 = Graph.kCore(edges.toDF("src", "dst"), k = 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_degree")).toMap
    assert(core4 === Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
    // cycle + tail: the 2-core is the cycle; the tail peels over TWO
    // cascading rounds (6 only drops after 5 does)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L), (5L, 6L))
    val core2 = Graph.kCore(cyc.toDF("src", "dst"), k = 2).collect()
      .map(_.getAs[Long]("node")).toSet
    assert(core2 === Set(1L, 2L, 3L, 4L))
    // empty core when k exceeds every degree
    assert(Graph.kCore(cyc.toDF("src", "dst"), k = 5).count() === 0L)
  }

  test("coEngagementEdges: hot-feature bucket cap bounds the pair stage") {
    // 6 users all sharing hot feature 100; users 1,2 also share feature 7
    val events = ((1L to 6L).map(u => (u, """{"k":100}""")) ++
      Seq((1L, """{"k":7}"""), (2L, """{"k":7}""")))
      .toDF("user_id", "props")
    // uncapped (default): the hot bucket emits all C(6,2) pairs
    val full = Graph.coEngagementEdges(events, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size === 15)
    // cap = 2: the hot bucket keeps its 2 lowest user ids — pair stage is
    // bounded at C(cap,2) per feature, a recall-only loss
    val capped = Graph.coEngagementEdges(events, minShared = 1,
        maxUsersPerFeature = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
    assert(capped.subsetOf(full))
  }

  test("kCore: exhausted round budget is never a silent truncation") {
    // a 12-node path at k=2 peels two endpoints per round (~5 rounds to
    // empty); maxRounds = 2 exits with edges still being removed
    val path = (1L until 12L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      Graph.kCore(path.toDF("src", "dst"), k = 2, maxRounds = 2)
    }
    assert(ex.getMessage.contains("maxRounds=2"))
    // non-strict: logged, returns the partially-peeled preview (the middle
    // of the path still present after 2 rounds; every node has current
    // degree >= 2 minus the unpeeled tail)
    val preview = Graph.kCore(path.toDF("src", "dst"), k = 2, maxRounds = 2,
      strict = false).collect().map(_.getAs[Long]("node")).toSet
    assert(preview === (3L to 10L).toSet)
    // round by round on the tendril: each round peels one more node, and
    // the partial peel keeps every survivor's degree among the survivors
    val peeled = (1 to 4).map(r => Graph.kCore(tendril.toDF("src", "dst"), k = 2,
        maxRounds = r, strict = false)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
    val k5 = (1L to 4L).map(_ -> 4L).toMap
    assert(peeled === Seq(
      k5 ++ Map(5L -> 5L, 6L -> 2L, 7L -> 2L, 8L -> 1L),
      k5 ++ Map(5L -> 5L, 6L -> 2L, 7L -> 1L),
      k5 ++ Map(5L -> 5L, 6L -> 1L),
      k5 + (5L -> 4L)))
    // a graph that CONVERGES within budget never throws, even in strict
    // mode — fixed point at round <= maxRounds is the normal exit
    val cyc2 = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(Graph.kCore(cyc2.toDF("src", "dst"), k = 2, maxRounds = 3)
      .count() === 3L)
  }

  test("labelPropagation: two triangles + bridge settle into two communities") {
    // triangle {1,2,3} - bridge 3-4 - triangle {4,5,6}; duplicates and a
    // self-loop must canonicalize away
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (2L, 1L), (1L, 1L))
    // hand-unrolled synchronous rounds (neighbor majority, ties -> min):
    // r1: 1->2 2->1 3->1 4->3 5->4 6->4
    // r2: 1->1 2->1 3->1 4->4 5->3 6->3
    // r3: 1->1 2->1 3->1 4->3 5->3 6->3
    // r4: fixed point — each triangle keeps its minimum member's id
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // the intermediate (non-converged) round is also pinned — the fixed
    // round count is the contract, not convergence
    val r1 = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    // rounds = 0: every node in its own community
    val r0 = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0 === (1L to 6L).map(n => n -> n).toMap)
    // rounds 2 and 3, as unrolled above
    def lpa(rounds: Int) = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
    assert(lpa(3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // string ids tie-break in Spark SQL's (UTF-8 byte) order: U+FF21 sorts
    // below U+1F600, though its UTF-16 unit sorts above the surrogate pair
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    val strs = Graph.labelPropagation(Seq(("c", fw), ("c", emoji)).toDF("src", "dst"), rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strs === Map("c" -> fw, fw -> "c", emoji -> "c"))
  }

  test("eventTransitionEdges: consecutive-per-user edges, (ts, event_id) tie-break, weights summed") {
    import java.sql.Timestamp
    def ts(ms: Long) = new Timestamp(1700000000000L + ms)
    val events = Seq(
      // user 1: a -> b -> a (two edges), with an equal-timestamp tie broken by event_id
      (1L, ts(0), 1L, "a"), (2L, ts(1000), 1L, "b"), (3L, ts(1000), 1L, "a"),
      // user 2: a -> b again (edge weight accumulates across users)
      (4L, ts(0), 2L, "a"), (5L, ts(500), 2L, "b"),
      // user 3: single event -> no edge
      (6L, ts(0), 3L, "c")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = Graph.eventTransitionEdges(events).collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) -> r.getAs[Long]("cnt"))
      .toMap
    // user 1 ties at ts=1000: event_id 2 ("b") precedes 3 ("a") -> a->b then b->a
    assert(got === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }
}
