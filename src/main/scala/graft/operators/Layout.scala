package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for multi-dimensional scan pruning at corpus scale.
  *
  * A 100 TB table is pruned file-by-file from parquet min/max footers; a
  * layout sorted on one column gives tight ranges on that column only. A
  * Z-order (Morton) layout interleaves the bits of several dimensions so a
  * range predicate on ANY of them maps to a bounded set of code ranges —
  * every file covers a small hyper-rectangle, and file-level min/max prunes
  * on all dimensions at once (the technique behind Delta/Iceberg Z-order
  * clustering).
  *
  * The code is computed with plain codegen'd bit arithmetic (shift/and/or on
  * longs — whole-stage-codegen friendly, no UDF), and the write path is
  * `repartitionByRange` on the code: Spark samples range boundaries, so the
  * clustering shuffle is fully parallel — no global sort bottleneck.
  */
object Layout {

  /** Morton (Z-order) code: interleave the low `bits` bits of each dimension,
    * dimension d owning bit positions d, d+n, d+2n, … Total bits must fit a
    * positive long. Dimensions must already be non-negative integers in
    * [0, 2^bits); see [[clampDim]]. */
  def mortonCode(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    require(n >= 1 && n * bits <= 62, s"need 1+ dims, n*bits <= 62; got n=$n bits=$bits")
    val terms = for {
      (c, d) <- dims.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + d)
    terms.reduce(_ bitwiseOR _)
  }

  /** Hash-spread `df`'s rows by `keys` over `spark.sql.shuffle.partitions`
    * partitions, so the narrow work after it runs that many tasks wide
    * instead of inheriting the scan's split count (ONE task on a
    * single-row-group fixture file). The width is pinned on purpose: a
    * widthless `repartition(keys)` plans as REPARTITION_BY_COL, which AQE
    * coalesces down to the exchange's byte size — the small pre-expansion
    * input would fold the expensive work back onto a task or two. The
    * pinned REPARTITION_BY_NUM exchange is not coalescible. Width follows
    * the session conf (local cores here, cluster-sized there).
    *
    * Batch callers spread their own input before handing it to an
    * operator; operators stay map-only so the same code runs unchanged on
    * incremental and streaming frames. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys: _*)

  /** Clamp an arbitrary numeric column into the [0, 2^bits) domain a Morton
    * dimension needs (floor for fractionals, saturate at the edges). */
  def clampDim(c: Column, bits: Int): Column =
    greatest(lit(0L), least(floor(c).cast("long"), lit((1L << bits) - 1L)))

  /** Write `df` clustered by the Z-order of `dims`: range-partition on the
    * code (sampled boundaries — parallel, no single-task sort), sort within
    * each partition, one file per partition. Each output file then covers a
    * compact code range = a small hyper-rectangle of the dimension space. */
  def zorderWrite(df: DataFrame, path: String, dims: Seq[Column], bits: Int,
      numFiles: Int): Unit =
    df.withColumn("__z", mortonCode(dims, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file min/max of `statCols` for a parquet directory — the footer
    * stats a pruning scan consults, materialized for inspection/tests. */
  def fileStats(df: DataFrame, statCols: Seq[String]): DataFrame =
    df.withColumn("__file", input_file_name())
      .groupBy(col("__file"))
      .agg(min(col(statCols.head)).as(s"min_${statCols.head}"),
        (Seq(max(col(statCols.head)).as(s"max_${statCols.head}")) ++
          statCols.tail.flatMap(c =>
            Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))): _*)

  /** Compaction/write plan: for each partition of the output (e.g. per
    * source), how many files to write and how many rows per file so files
    * land near `targetBytes`. `bytes` is a per-row size proxy the caller
    * owns (uncompressed text length, serialized width — anything summable),
    * which keeps the plan engine-reproducible instead of depending on one
    * engine's private size estimate. One map-side-combined groupBy; the
    * plan is then executed with repartitionByRange(target_files) per group.
    * This is the small-files defense at 100 TB: a thousand executors
    * writing a partitioned table without a plan produce millions of
    * KB-sized files; with one, file count is bytes/targetBytes by design. */
  def compactionPlan(df: DataFrame, groupCols: Seq[String], bytes: Column,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(bytes).cast("long").as("est_bytes"))
      .withColumn("target_files",
        greatest(lit(1L), ceil(col("est_bytes").cast("double") /
          lit(targetBytes.toDouble)).cast("long")))
      .withColumn("rows_per_file",
        ceil(col("n_rows").cast("double") /
          col("target_files").cast("double")).cast("long"))
      .withColumn("avg_row_bytes",
        round(col("est_bytes").cast("double") / col("n_rows").cast("double"), 6))
  }

  /** Exact, fully parallel `ntile(numTiles) OVER (ORDER BY sortKeys)` —
    * the same values Spark's window ntile assigns, without the
    * single-partition WindowExec that a global ORDER BY window forces
    * (every row through ONE task: the 100 TB scale-killer flagged on the
    * q85 plan). Two cooperating consumers of ONE range exchange:
    *
    *   1. `repartitionByRange(width, sortKeys)` — explicit width, so the
    *      exchange is REPARTITION_BY_NUM (AQE may neither coalesce it nor
    *      give its two readers different coalesce specs, which keeps
    *      `spark_partition_id()` consistent across the consumers).
    *   2. Per-partition row counts (map-side-combinable count keyed on the
    *      partition id), folded into a WIDTH-row boundary frame carrying
    *      each partition's cumulative row offset and the global row count —
    *      computed with array folds over the collected (pid, cnt) list
    *      (width elements, one struct each), NOT a window, so no
    *      single-partition WindowExec anywhere in the plan.
    *   3. The data partitions sort locally (range partitions are globally
    *      ordered, so partition-local sort = global sort), take their local
    *      row index from `monotonically_increasing_id()`'s low 33 bits, and
    *      broadcast-join the boundary frame: global rank = offset + local
    *      index + 1.
    *
    * The tile of rank r among n rows is then pure arithmetic (Spark's
    * NTile rule: the first n % numTiles tiles get one extra row).
    * `sortKeys` should be a total order (ties make which-row-gets-which-
    * tile run-dependent, exactly as with the window form).
    *
    * Limits: `df` must not carry the operator's working columns (`__pid`,
    * `__mid`, `__cnt`, `__cs`, `__c`, `__off`, `__n`, `__rank`, compared
    * case-insensitively), and every range partition must hold fewer than
    * 2^33 rows — past that the local index overflows the low-33-bit mask
    * into the partition bits. The boundary projection fails the query with
    * `raise_error` instead of mis-ranking rows. */
  def exactNtile(df: DataFrame, sortKeys: Seq[Column], numTiles: Int,
      out: String): DataFrame =
    exactNtile(df, sortKeys, numTiles, out, maxPartitionRows = 1L << 33)

  // an input column of one of these names would be shadowed or dropped
  private val NtileReserved: Seq[String] =
    Seq("__pid", "__mid", "__cnt", "__cs", "__c", "__off", "__n", "__rank")

  /** [[exactNtile]] with the per-partition row limit as a parameter, so
    * specs can trip the guard on small inputs. */
  private[operators] def exactNtile(df: DataFrame, sortKeys: Seq[Column], numTiles: Int,
      out: String, maxPartitionRows: Long): DataFrame = {
    require(numTiles >= 1, "numTiles must be positive")
    val clash = df.columns.filter(c => NtileReserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"exactNtile: input columns ${clash.mkString(", ")} collide with its reserved " +
        s"working columns (${NtileReserved.mkString(", ")}); rename them first")
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Both consumers must read ONE physical range layout, a correctness
    // barrier, not a cache. Without it, column pruning gives the counts
    // subtree and the ranked subtree two non-identical
    // RepartitionByExpression children, ReuseExchange cannot merge them,
    // and each instance's RangePartitioner draws its own boundary SAMPLE
    // (seeded by rdd.id — different per instance and per run): when the two
    // boundary sets disagree, pass-1 counts describe a layout pass-2 never
    // had, ranks go off by the difference, and a tile boundary moves —
    // observed as a 1-in-several-runs q85 files_seq oracle mismatch (57 vs
    // 58) before this fix.
    val part = Materialize.shared()(df.repartitionByRange(width, sortKeys: _*))
    val counts = part
      .groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .agg(collect_list(struct(col("__pid"), col("__cnt"))).as("__cs"))
    val boundary = counts
      .select(explode(col("__cs")).as("__c"), col("__cs"))
      .select(col("__c.__pid").as("__pid"),
        when(col("__c.__cnt") >= maxPartitionRows, raise_error(concat(
            lit("exactNtile: range partition "), col("__c.__pid").cast("string"),
            lit(" holds "), col("__c.__cnt").cast("string"),
            lit(s" rows; the local row index needs fewer than $maxPartitionRows"))))
          .otherwise(aggregate(
            filter(col("__cs"), x => x("__pid") < col("__c.__pid")),
            lit(0L), (acc, x) => acc + x("__cnt"))).as("__off"),
        aggregate(col("__cs"), lit(0L), (acc, x) => acc + x("__cnt")).as("__n"))
    val k = lit(numTiles.toLong)
    val ranked = part
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", spark_partition_id())
      .join(broadcast(boundary), "__pid")
      .withColumn("__rank",
        col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1L)
    val base = call_function("div", col("__n"), k)
    val rem = pmod(col("__n"), k)
    val thr = rem * (base + 1L)
    val tile = when(col("__rank") <= thr,
        call_function("div", col("__rank") - 1L, base + 1L) + 1L)
      .otherwise(rem + call_function("div", col("__rank") - thr - 1L, base) + 1L)
    ranked
      .withColumn(out, tile.cast("int"))
      .drop("__pid", "__mid", "__off", "__n", "__rank")
  }

  /** Range-partition split points for `value`: the n-1 interior quantiles
    * at i/n, i = 1..n-1 — what `repartitionByRange` estimates by sampling,
    * computed declaratively (one interpolated-percentile aggregate) so the
    * boundary choice is inspectable and engine-reproducible. One row per
    * boundary: (bucket upper-bounded by it, boundary value). */
  def rangeSplitPoints(df: DataFrame, valueCol: String, n: Int): DataFrame = {
    require(n >= 2, "need at least 2 partitions")
    val ps = (1 until n).map(i => i.toDouble / n)
    df.agg(expr(s"percentile($valueCol, array(${ps.mkString(",")}))").as("qs"))
      .select(posexplode(col("qs")).as(Seq("i", "boundary")))
      .select((col("i") + 1).cast("long").as("bucket"), col("boundary"))
  }

  /** Audit of the layout those split points produce: per-bucket row count.
    * Bucket of a row = number of boundaries strictly below its value (ties
    * go to the lower bucket). The n-1 boundaries collapse to ONE array row
    * cross-joined in (broadcast: no shuffle of `df`), bucket assignment is
    * a codegen'd array fold per row, and the only shuffle is the final
    * n-row count — the audit costs one scan, nothing next to the
    * repartitionByRange it validates. */
  def rangeBalance(df: DataFrame, value: Column, boundaries: DataFrame): DataFrame = {
    val arr = boundaries.agg(sort_array(collect_list(col("boundary"))).as("__bs"))
    df.select(value.as("__v")).crossJoin(broadcast(arr))
      .select(aggregate(col("__bs"), lit(0L),
        (acc, x) => acc + when(col("__v") > x, 1L).otherwise(0L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
  }
}
