package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode interleaves bits dimension-major (hand-computed values)") {
    // x=3 (011), y=5 (101); x owns even bit positions, y odd:
    // x -> bits 0,2 = 5; y -> bits 1,5 = 34; morton = 39
    val got = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.mortonCode(Seq($"x", $"y"), 3).as("z"))
      .collect().head.getLong(0)
    assert(got === 39L)
    // identity cases: zero stays zero; one dim alone is a plain spread
    val z0 = Seq((0L, 0L)).toDF("x", "y")
      .select(Layout.mortonCode(Seq($"x", $"y"), 8)).collect().head.getLong(0)
    assert(z0 === 0L)
  }

  test("mortonCode preserves locality: neighbors in space are near in code") {
    // all 16x16 grid points, 4 bits: max code must be 255, and the code of
    // (x,y) differs from (x+1,y) in low bits most of the time — check the
    // canonical property that sorting by code groups quadrants: the first
    // 64 codes are exactly the [0,8)x[0,8) quadrant.
    val grid = (0 until 16).flatMap(x => (0 until 16).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .select($"x", $"y", Layout.mortonCode(Seq($"x", $"y"), 4).as("z"))
    val firstQuad = grid.orderBy($"z").limit(64).agg(max($"x"), max($"y"))
      .collect().head
    assert(firstQuad.getLong(0) === 7L && firstQuad.getLong(1) === 7L)
    assert(grid.agg(max($"z")).collect().head.getLong(0) === 255L)
  }

  test("clampDim floors and saturates into [0, 2^bits)") {
    val got = Seq(-3.2, 0.9, 511.7, 9999.0).toDF("v")
      .select(Layout.clampDim($"v", 9).as("c")).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(0L, 0L, 511L, 511L))
  }

  test("zorderWrite clusters files so a rectangle touches far fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val events = graft.sources.Tables(spark, sf001, "events")
      .select($"event_id", $"user_id", $"value")
    val dims = Seq(Layout.clampDim($"user_id", 10), Layout.clampDim($"value", 10))
    Layout.zorderWrite(events, s"$dir/z", dims, 10, numFiles = 32)
    events.repartitionByRange(32, $"event_id") // arrival-order strawman
      .write.mode("overwrite").parquet(s"$dir/seq")

    def touched(path: String): Long = {
      val stats = Layout.fileStats(spark.read.parquet(path),
        Seq("user_id", "value"))
      stats.filter($"min_user_id" <= 60 && $"max_user_id" >= 40 &&
        $"min_value" <= 200.0 && $"max_value" >= 100.0).count()
    }
    val (z, seq) = (touched(s"$dir/z"), touched(s"$dir/seq"))
    assert(z * 2 <= seq, s"z-order should halve files touched: z=$z seq=$seq")
    // same rows survive either layout (clustering is a permutation)
    assert(spark.read.parquet(s"$dir/z").count() === events.count())
  }

  test("compactionPlan sizes files to the byte target") {
    // group a: 100 rows x 1000 bytes = 100 KB at a 64 KB target → 2 files
    // group b: 10 rows x 100 bytes = 1 KB → floor at 1 file
    val df = ((1 to 100).map(i => ("a", 1000L)) ++
      (1 to 10).map(i => ("b", 100L))).toDF("g", "nbytes")
    val plan = Layout.compactionPlan(df, Seq("g"), $"nbytes", 65536L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("est_bytes"),
          r.getAs[Long]("target_files"), r.getAs[Long]("rows_per_file")))
      .toMap
    assert(plan("a") === ((100L, 100000L, 2L, 50L)))
    assert(plan("b") === ((10L, 1000L, 1L, 10L)))

    // the invariant the plan exists for: no partition exceeds ~target
    // bytes per file once split into target_files pieces
    plan.values.foreach { case (_, bytes, files, _) =>
      assert(bytes.toDouble / files <= 65536.0 ||
        files >= Math.ceil(bytes / 65536.0).toLong)
    }
  }

  test("rangeSplitPoints octiles of 0..799 land on the exact interpolated values") {
    val df = (0 until 800).map(_.toLong).toDF("v")
    val got = Layout.rangeSplitPoints(df, "v", 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // percentile(p) over 0..799 = p * 799
    val want = (1 to 7).map(i => i.toLong -> i / 8.0 * 799).toMap
    assert(got === want)
  }

  test("rangeBalance on uniform data is near-perfectly balanced") {
    val df = (0 until 800).map(_.toLong).toDF("v")
    val bounds = Layout.rangeSplitPoints(df, "v", 8)
    val bal = Layout.rangeBalance(df, $"v", bounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bal.keySet === (0L to 7L).toSet, s"all 8 buckets occupied: $bal")
    assert(bal.values.sum === 800L)
    // uniform input + exact octiles: every bucket within 1 of 100
    bal.values.foreach(n => assert(math.abs(n - 100L) <= 1L, s"unbalanced: $bal"))
  }

  test("exactNtile matches window ntile exactly (remainder, n<k, n==k, empty)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // unique keys in scrambled order; 1000 % 64 = 40 exercises the
    // first-tiles-get-one-extra-row remainder rule
    val rows = rnd.shuffle((0 until 1000).toList)
      .map(i => (i.toLong, s"p$i")).toDF("k", "payload")
    def wantOf(df: org.apache.spark.sql.DataFrame, n: Int) = df
      .withColumn("want", ntile(n).over(Window.orderBy($"k")))
    for (n <- Seq(64, 7, 1)) {
      val got = Layout.exactNtile(wantOf(rows, n), Seq($"k"), n, "got")
      assert(got.filter($"got" =!= $"want").count() === 0L,
        s"exactNtile(k=$n) diverged from window ntile")
      assert(got.count() === 1000L)
    }
    // n < numTiles: each row its own tile; n == numTiles: same
    for (sz <- Seq(10, 64)) {
      val small = rnd.shuffle((0 until sz).toList).map(_.toLong).toDF("k")
      val got = Layout.exactNtile(wantOf(small, 64), Seq($"k"), 64, "got")
      assert(got.filter($"got" =!= $"want").count() === 0L, s"n=$sz diverged")
    }
    // empty input: no rows, no errors
    assert(Layout.exactNtile(Seq.empty[Long].toDF("k"), Seq($"k"), 64, "got")
      .count() === 0L)
    // multi-key order (the q85 shape): ties on the first key break on the second
    val multi = rnd.shuffle((0 until 500).toList)
      .map(i => (i.toLong % 17, i.toLong)).toDF("z", "id")
    val gotM = Layout.exactNtile(
      multi.withColumn("want", ntile(64).over(Window.orderBy($"z", $"id"))),
      Seq($"z", $"id"), 64, "got")
    assert(gotM.filter($"got" =!= $"want").count() === 0L)
  }

  test("exactNtile rejects inputs carrying its reserved working columns") {
    for (c <- Seq("__rank", "__PID", "__c")) {
      val e = intercept[IllegalArgumentException](
        Layout.exactNtile(Seq((1L, 2L)).toDF("k", c), Seq($"k"), 4, "got"))
      assert(e.getMessage.contains(c), e.getMessage)
    }
  }

  test("exactNtile fails the query when a range partition reaches its row limit") {
    val df = (0 until 100).map(_.toLong).toDF("k")
    // 100 rows over 4 range partitions: the largest holds at least 25
    val e = intercept[Exception](
      Layout.exactNtile(df, Seq($"k"), 4, "got", maxPartitionRows = 25L).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("exactNtile: range partition")), e.toString)
    // under a limit no partition reaches, the tiling is the usual one
    val ok = Layout.exactNtile(df, Seq($"k"), 4, "got", maxPartitionRows = 101L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ok === (0L until 100L).map(k => k -> (k / 25 + 1).toInt).toMap)
  }

  test("spread keeps the session's shuffle width under AQE coalescing") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val df = (0L until 200L).toDF("k").coalesce(1)
      assert(Layout.spread(df, $"k").rdd.getNumPartitions === 5)
      // the widthless form is coalesced to the input's tiny byte size
      assert(df.repartition($"k").rdd.getNumPartitions < 5)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("rangeBalance sends boundary ties to the lower bucket") {
    // boundaries at 10 and 20; value exactly 10 goes to bucket 0
    val bounds = Seq((1L, 10.0), (2L, 20.0)).toDF("bucket", "boundary")
    val df = Seq(5L, 10L, 15L, 20L, 25L).toDF("v")
    val bal = Layout.rangeBalance(df, $"v", bounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bal === Map(0L -> 2L, 1L -> 2L, 2L -> 1L))
  }
}
