package graft.sources

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{GraftSql, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Scan-contract guard for the events fixture, and the schema cache.
  *
  * The `ts` column's parquet encoding has changed under our feet twice
  * (TIMESTAMP(NANOS) read as raw int64 under Spark ≤4.0 legacy conf;
  * TIMESTAMP_NTZ micros under Spark 4.1 / regenerated fixtures). Every
  * events-backed query depends on `Tables` normalizing that to a session-UTC
  * TimestampType with identical instants, so pin the contract here: if a
  * future Spark or fixture change breaks the scan again, THIS spec fails
  * first with a precise message, instead of 21 catalog queries going dark.
  */
class TablesSpec extends SparkSpec {

  /** Writes the rows of `df` as `dir/<name>.parquet`, one plain file (Spark
    * writes a directory; its single part file is moved into place). */
  private def writeFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("tablesspec-w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    TempStores.deleteRecursively(tmp.toFile)
  }

  private def withDir[A](f: java.nio.file.Path => A): A = {
    val dir = Files.createTempDirectory("tablesspec")
    try f(dir) finally TempStores.deleteRecursively(dir.toFile)
  }

  test("events.ts scans as TimestampType with pinned instants (UTC)") {
    // the second read takes its schema from the cache: the dtype branch
    // must see the same scanned type either way
    Tables(spark, sf0001, "events").schema
    val events = Tables(spark, sf0001, "events")
    assert(events.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${events.schema("ts").dataType}")
    val row = events.agg(
      count(lit(1)).as("n"),
      date_format(min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("lo"),
      date_format(max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("hi")).head()
    assert(row.getLong(0) == 1000L, s"row count drifted: ${row.getLong(0)}")
    assert(row.getString(1) == "2024-01-01 00:09:58.778549",
      s"min(ts) drifted: ${row.getString(1)}")
    assert(row.getString(2) == "2024-01-30 23:26:16.220708",
      s"max(ts) drifted: ${row.getString(2)}")
  }

  test("all fixture tables scan") {
    Tables.all.foreach { name =>
      val df = Tables(spark, sf0001, name)
      assert(df.columns.nonEmpty, s"$name: empty schema")
    }
  }

  test("schema cache: a cold read infers, a repeat read of an unchanged file runs no job") {
    import spark.implicits._
    withDir { dir =>
      writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir, "t")
      val cold = jobs(Tables(spark, dir.toString, "t").schema)
      assert(cold >= 1, "a first read must infer the schema")
      var warm: DataFrame = null
      assert(jobs { warm = Tables(spark, dir.toString, "t") } == 0)
      assert(warm.schema == Tables(spark, dir.toString, "t").schema)
      assert(warm.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
      // every fixture table: a second read in the same session is free
      Tables.all.foreach(t => Tables(spark, sf0001, t).schema)
      Tables.all.foreach(t => assert(jobs(Tables(spark, sf0001, t).schema) == 0, t))
    }
  }

  test("schema cache: a new session reuses the entry") {
    Tables(spark, sf0001, "events").schema
    val other: SparkSession = spark.newSession()
    var df: DataFrame = null
    assert(jobs { df = Tables(other, sf0001, "events") } == 0)
    assert(df.schema == Tables(spark, sf0001, "events").schema)
    assert(df.count() == 1000L)
  }

  test("schema cache: a new client session registers every table without inference") {
    // registerAll reads documents both before and after events; every read
    // must carry the same stamp, in this session and in the next one
    GraftSql.registerAll(spark, sf0001)
    val other: SparkSession = spark.newSession()
    assert(jobs(GraftSql.registerAll(other, sf0001)) == 0)
    assert(other.table("documents_v").count() == spark.table("documents_v").count())
  }

  test("schema cache: a table rewritten at the same path is read with its new schema") {
    import spark.implicits._
    withDir { dir =>
      val file = dir.resolve("t.parquet")
      writeFile(Seq((1L, "a")).toDF("id", "s"), dir, "t")
      val before = Files.size(file)
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "s"))
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "s")) // cached
      writeFile(Seq((1L, 2.5, "x", "y"), (2L, 3.5, "z", "w")).toDF("k", "v", "p", "q"), dir, "t")
      assert(Files.size(file) != before)
      val df = Tables(spark, dir.toString, "t")
      assert(df.columns.toSeq == Seq("k", "v", "p", "q"))
      assert(df.orderBy("k").select("v").as[Double].collect().toSeq == Seq(2.5, 3.5))
      // the new version replaced the entry
      assert(jobs(Tables(spark, dir.toString, "t").schema) == 0)
    }
  }

  test("schema cache: a directory table still infers on every read") {
    import spark.implicits._
    withDir { dir =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(dir.resolve("d.parquet").toString)
      Tables(spark, dir.toString, "d").schema
      assert(jobs(Tables(spark, dir.toString, "d").schema) >= 1)
    }
  }

  test("schema cache: concurrent first reads of one table agree and do not deadlock") {
    import spark.implicits._
    withDir { dir =>
      writeFile(Seq((1L, "a", 1.0)).toDF("id", "s", "x"), dir, "t")
      val pool = Executors.newFixedThreadPool(4)
      try {
        val start = new CountDownLatch(1)
        val reads = (1 to 4).map(_ => pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            Tables(spark, dir.toString, "t").schema.fieldNames.toSeq
          }
        }))
        start.countDown()
        val got = reads.map(_.get(120, TimeUnit.SECONDS))
        assert(got.distinct == Seq(Seq("id", "s", "x")))
        assert(jobs(Tables(spark, dir.toString, "t").schema) == 0)
      } finally pool.shutdownNow()
    }
  }
}
