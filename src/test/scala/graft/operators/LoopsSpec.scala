package graft.operators

import org.apache.spark.sql.Row

import graft.SparkSpec

/** The reliable-checkpoint mode (graft.loops.reliableCheckpoint) must be a
  * pure STORAGE decision: every iterative operator, and every operator that
  * materializes a frame, returns bit-identical results with its frames on
  * reliable checkpoint storage as with localCheckpoint blocks — what makes
  * the knob safe to flip on a cluster where executor loss would kill a
  * localCheckpoint'd job mid-flight.
  *
  * Test ORDER matters: the missing-dir guard test must run before the
  * equality test, which is the only place in the whole suite that calls
  * SparkContext.setCheckpointDir (there is no unset API). ScalaTest runs
  * tests in declaration order within a suite. */
class LoopsSpec extends SparkSpec {
  import spark.implicits._

  test("reliable mode without a checkpoint dir fails loudly; default is off") {
    assert(!Materialize.reliable(spark), "default must be localCheckpoint mode")
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir was already set on the shared context")
    spark.conf.set(Materialize.ReliableConfKey, "true")
    try {
      val ex = intercept[IllegalStateException](Materialize.reliable(spark))
      assert(ex.getMessage.contains(Materialize.ReliableConfKey))
    } finally spark.conf.set(Materialize.ReliableConfKey, "false")
  }

  /** `call` in reliable mode with a fresh checkpoint directory: its result,
    * and whether the call alone wrote files there. */
  private def reliably[T](call: => T): (T, Boolean) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-loops-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.ReliableConfKey, "true")
    try {
      val got = call
      val d = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      (got, d.exists && d.listFiles.nonEmpty)
    } finally spark.conf.set(Materialize.ReliableConfKey, "false")
  }

  test("iterative operators return identical results in both modes") {
    // graph: two triangles + bridge + tendril (exercises peel, LPA, ranks)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)).toDF("src", "dst")
    val weighted = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L),
      (2L, 1L, 1L)).toDF("src", "dst", "cnt")
    // CC pairs: two components {10,11,12} and {20,21}
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")

    def run(): (Set[(Long, Long)], Set[(Long, Long)], Set[(Long, Long)], Set[(Long, Long)]) = (
      Graph.labelPropagation(edges, rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Graph.kCore(edges, k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Graph.pageRankFixedPoint(weighted, iters = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Dedup.nearDupClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    val local = run()
    val (reliableResults, wrote) = reliably(run())
    assert(wrote, "reliable mode must write round frontiers to the checkpoint dir")
    assert(reliableResults === local)

    // operators that materialize a frame outside a loop: the call alone
    // checkpoints into the fresh dir, and its rows do not change
    val keyed = (1L to 40L).map(i => (i, (i * 7919L) % 97L)).toDF("id", "v")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog by the river banks"),
      (3L, "spark shuffles rows between executors when a join needs them"),
      (4L, "spark shuffles rows between executors when a join needs it"),
      (5L, "an unrelated document about weather patterns in the mountains"))
      .toDF("doc_id", "text")
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("exactNtile", () => Layout.exactNtile(keyed, Seq($"v", $"id"), 7, "tile")),
      ("minhashNearDups", () => Dedup.minhashNearDups(docs, threshold = 0.5)),
      ("triangleCounts", () => Graph.triangleCounts(edges)))
    for ((op, call) <- ops) {
      val want = call().collect().toSet
      val (df, wroteFiles) = reliably(call())
      assert(wroteFiles, s"$op: reliable mode wrote no checkpoint files")
      val got: Set[Row] = df.collect().toSet
      assert(want.nonEmpty, s"$op: no rows")
      assert(got === want, s"$op: rows differ between the two modes")
    }
  }
}
