package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table access for the TPC-H-ish fixtures (see TESTDATA.md).
  *
  * All reads go through here so scan-level concerns (schema quirks, nanosecond
  * timestamps, future partitioning/bucketing) live in one place. Scans stay
  * fully declarative so Catalyst pushes filters/projections into the parquet
  * reader (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  *
  * Schema cache: a bare `spark.read.parquet(file)` infers the schema with a
  * one-task Spark job over the footer, on every read. Reads here resolve it
  * once per file version instead. One JVM-wide map, keyed by the qualified
  * path, holds the inferred `StructType` under a stamp: the file's
  * modification time and length, and the session values of the confs that
  * change Parquet schema conversion (`SchemaConfs`; `apply` pins
  * nanosAsLong before a session's first read, so every read of a session
  * presents the same values). A read whose stamp matches passes the cached
  * schema (`spark.read.schema`) and runs no job, in any session of the JVM.
  * A miss or a stale stamp infers exactly as before and replaces the entry,
  * so there is at most one entry per path and a rewritten file is never
  * read with its old schema. Only plain files are cached; a directory
  * always infers. Inference runs outside any lock: two first reads of one
  * path may both infer, and either result is correct.
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
    // set before ANY read, not just the events read that needs it: the conf
    // is part of every cache stamp, so a session must present one value for
    // all its reads, or a table read before and after events swaps its
    // entry and infers again
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
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
      // (`apply` has already set nanosAsLong for this session.)
      val raw = parquet(spark, s"$dir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val ts = raw.schema("ts").dataType match {
        case LongType      => timestamp_micros(expr("ts div 1000"))
        case TimestampType => col("ts") // future-proof: already what we want
        case _             => col("ts").cast("timestamp") // TIMESTAMP_NTZ path
      }
      raw.withColumn("ts", ts)
    case n => parquet(spark, s"$dir/$n.parquet")
  }

  /** Session confs that change how a Parquet footer converts to a Spark
    * schema; their values are part of every cache stamp. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  private final case class Stamp(modified: Long, length: Long, confs: Seq[Option[String]])
  private final case class Entry(stamp: Stamp, schema: StructType)
  private val schemas = new ConcurrentHashMap[String, Entry]()

  /** `spark.read.parquet(path)`, with the schema taken from the cache when
    * the file is unchanged. The stamp is read before inference, so a file
    * rewritten mid-inference leaves an entry whose stamp no longer matches,
    * and the next read infers again. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: FileNotFoundException => None }
    file match {
      case None => spark.read.parquet(path) // a directory, or missing: Spark reports it
      case Some(st) =>
        val key = fs.makeQualified(p).toString
        val stamp = Stamp(st.getModificationTime, st.getLen, SchemaConfs.map(spark.conf.getOption))
        val hit = schemas.get(key)
        if (hit != null && hit.stamp == stamp) spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, Entry(stamp, df.schema))
          df
        }
    }
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
