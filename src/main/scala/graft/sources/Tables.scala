package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table access for the TPC-H-ish fixtures (see TESTDATA.md).
  *
  * All reads go through here so scan-level concerns (schema quirks, nanosecond
  * timestamps, future partitioning/bucketing) live in one place. Scans stay
  * fully declarative so Catalyst pushes filters/projections into the parquet
  * reader (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every engine session flows through here: install the native SQL
    // functions, the plan-rewrite rules (RewriteHofDot, RewriteRankFilter),
    // and the TopKPerKey strategy exactly once per session, so plan shapes
    // don't depend on which query happened to run first
    org.apache.spark.sql.graft.GraftExtensions.registerInto(spark)
    read(spark, dir, name)
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // events.parquet stores TIMESTAMP(NANOS). How Spark scans that column
      // depends on the runtime version, so branch on the scanned dtype rather
      // than assuming one behavior:
      //  - Spark ≤4.0 with spark.sql.legacy.parquet.nanosAsLong=true reads it
      //    as raw int64 nanos → truncate to micros ourselves. Integral `div`
      //    is mandatory: Column `/` is double division and doubles cannot
      //    represent epoch-nanos exactly.
      //  - Spark 4.1+ ignores that conf and reads TIMESTAMP(NANOS) natively as
      //    TIMESTAMP_NTZ (already micros-truncated) → cast to session-local
      //    TIMESTAMP. The session timezone is pinned to UTC everywhere, so
      //    both paths yield identical instants and DuckDB oracle comparisons
      //    stay exact (DuckDB applies the same truncation casting
      //    TIMESTAMP_NS -> TIMESTAMP).
      try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Throwable => () }
      val raw = spark.read.parquet(s"$dir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val ts = raw.schema("ts").dataType match {
        case LongType      => timestamp_micros(expr("ts div 1000"))
        case TimestampType => col("ts") // future-proof: already what we want
        case _             => col("ts").cast("timestamp") // TIMESTAMP_NTZ path
      }
      raw.withColumn("ts", ts)
    case n => spark.read.parquet(s"$dir/$n.parquet")
  }
}

/** Per-application scratch directories for queries that exercise a
  * persist-then-load seam (q157 sketch rollup, q158 IVF-PQ index, q161
  * aHash index). The applicationId suffix keeps concurrent processes on one
  * host (bench + tests) from racing an overwrite against a mid-query read
  * of the same path; the registered shutdown hook deletes every directory
  * this JVM created, so repeated runs don't accumulate leaked parquet under
  * java.io.tmpdir (one directory per app run otherwise lives forever). */
object TempStores {
  private val created = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.keySet().forEach { p =>
      try deleteRecursively(new java.io.File(p)) catch { case _: Throwable => () }
    }))

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Absolute path `tmpdir/<prefix>_<applicationId>`, registered for
    * deletion at JVM exit. The directory itself is created by the writer
    * (parquet `save`), not here. */
  def scratch(spark: SparkSession, prefix: String): String = {
    hook
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${spark.sparkContext.applicationId}").getAbsolutePath
    created.put(path, true)
    path
  }
}
