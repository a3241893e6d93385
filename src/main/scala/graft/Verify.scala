package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify", defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // A throwing query must leave a visible trace in the artifact — an
    // all-green CORRECTNESS file over a silently shrinking catalog is worse
    // than a red row. Collect failures and publish them as _errors.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Local-iteration filter (comma-separated names); the driver never sets
    // it, so official runs always dump the full catalog.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Error sentinel: one JSON object mapping failed query name → message.
    // Written even when empty so "no failures" is itself a positive record —
    // but ONLY on unfiltered runs: a VERIFY_ONLY iteration into a reused
    // outDir must not overwrite a prior full run's failure record with a
    // vacuous {} while the other queries' stale outputs still sit beside it.
    val ranCount = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    if (only.isEmpty) {
      val errJson = errors
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    }
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/$ranCount ran queries failed: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
