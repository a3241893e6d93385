package graft

import graft.operators.Dedup

/** Pins the assumption Bench's between-rep hygiene sweep rests on (r13
  * verdict #1c): the eager `localCheckpoint` frames the ExactSubstr and
  * CC-loop operators return are PERSISTENT RDDs that (a) register in the
  * SparkContext's persistentRdds map — `RDD.localCheckpoint` persists the
  * source RDD, which calls `sc.persistRDD` — and (b) a blocking
  * unpersist-all sweep genuinely reclaims them: the map empties AND the
  * block manager reports zero cached RDD blocks. If a future Spark version
  * (or operator lifecycle change) makes checkpoint blocks invisible to the
  * sweep, this fails before a bench round smears. */
class BenchHygieneSpec extends SparkSpec {

  private def sweep(): Unit = Sessions.dropPersisted(spark.sparkContext)

  private def cachedRddBlocks(): Int =
    spark.sparkContext.getRDDStorageInfo
      .map(_.numCachedPartitions).sum

  test("exactSubstrSpans' localCheckpoint RDD is seen and reclaimed by the sweep") {
    sweep() // start clean regardless of suite ordering
    import spark.implicits._
    val span = "the quick brown fox jumps over the lazy dog near the river bank " * 2
    val docs = Seq(
      (1L, s"prefix one $span suffix one"),
      (2L, s"prefix two $span suffix two"),
      (3L, "an unrelated document with no shared content at all here"))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, minLen = 40)
    assert(spans.count() > 0)
    // the returned frame is backed by an eager localCheckpoint: its RDD
    // must be registered as persistent, with materialized blocks
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "localCheckpoint RDD not registered in persistentRdds — Bench's sweep would miss it")
    assert(cachedRddBlocks() > 0)
    sweep()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "blocking unpersist-all left entries in persistentRdds")
    assert(cachedRddBlocks() == 0,
      "blocking unpersist-all left cached RDD blocks in the block manager")
  }

  test("nearDupClusters' final-round checkpoint RDD is reclaimed by the sweep") {
    sweep()
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    assert(clusters.count() == 5)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    sweep()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cachedRddBlocks() == 0)
  }

  test("a fresh build after the sweep evaluates cleanly (reps rebuild their plan)") {
    sweep()
    import spark.implicits._
    // The sweep makes the PREVIOUS frame unusable by design — unpersisting
    // a locally-checkpointed RDD loses its truncated lineage, so an action
    // on the OLD frame would throw "checkpoint block not found". Bench
    // never does that: every evaluation (including out-of-band retries)
    // re-invokes the query builder, producing a fresh plan. This pins that
    // contract: build -> evaluate -> sweep -> rebuild -> evaluate works.
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val c1 = Dedup.nearDupClusters(pairs)
    assert(c1.count() == 2)
    sweep()
    val c2 = Dedup.nearDupClusters(pairs) // fresh build, as Bench does
    assert(c2.count() == 2)
  }

  test("the round report's Numbers block is byte-identical to what " +
      "ReportNumbers derives from the committed artifact") {
    // r15: REPORT quoted one run's 2,323 ms exact p99 over a committed
    // artifact that said 2,215 ms. The report's headline numbers are now
    // GENERATED (graft.tools.ReportNumbers) from BENCH_SIDECAR.json and
    // embedded between markers; this pins that the newest REPORT_r*.md's
    // embedded block re-derives exactly from the committed sidecar. Skips
    // (vacuously passes) while the round's report or sidecar doesn't exist
    // yet — the round workflow runs the suite once more after writing both.
    import graft.tools.ReportNumbers
    val root = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO",
        sys.props.getOrElse("user.dir", ".")))
    var newest: Option[(Int, java.nio.file.Path)] = None
    // Files.list returns a Stream holding a directory handle — close it
    // (r16 advice: the unclosed iterator leaked one handle per test run)
    val listing = java.nio.file.Files.list(root)
    try {
      val reports = listing.iterator()
      while (reports.hasNext) {
        val p = reports.next()
        "REPORT_r(\\d+)\\.md".r.findFirstMatchIn(p.getFileName.toString)
          .foreach { m =>
            val n = m.group(1).toInt
            if (newest.forall(_._1 < n)) newest = Some((n, p))
          }
      }
    } finally listing.close()
    val sidecarPath = root.resolve("BENCH_SIDECAR.json")
    newest.filter(_ => java.nio.file.Files.exists(sidecarPath)).foreach {
      case (_, reportPath) =>
        def read(p: java.nio.file.Path) = new String(
          java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val report = read(reportPath)
        // only reports that carry the block are checked (older rounds'
        // reports predate the mechanism and are historical records)
        if (report.contains(ReportNumbers.BeginMarker)) {
          val embedded = report.substring(
            report.indexOf(ReportNumbers.BeginMarker),
            report.indexOf(ReportNumbers.EndMarker) +
              ReportNumbers.EndMarker.length)
          // The report must re-derive from the sidecar it was generated
          // against: the WORKING-TREE file during the round (write sidecar
          // -> regenerate block -> validate -> commit both), or the
          // HEAD-COMMITTED one after — any bench run AFTER the round's
          // commit (a judge's, the driver's) overwrites the working-tree
          // sidecar and previously turned this suite red with zero code
          // change (r16 verdict #3). Matching EITHER is green; matching
          // neither means the block is stale — regenerate it.
          val worktree = ReportNumbers.block(read(sidecarPath))
          def git(cmd: String*): Option[String] =
            try {
              val pr = new ProcessBuilder(("git" +: cmd): _*)
                .directory(root.toFile).redirectErrorStream(false).start()
              val txt = new String(pr.getInputStream.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              if (pr.waitFor() == 0 && txt.nonEmpty) Some(txt) else None
            } catch { case _: Throwable => None }
          // The committed-state match is only valid while the REPORT itself
          // is unmodified (r17 advice): accepting it for an edited report
          // reintroduces the drift this check exists to catch — a new
          // official run overwrites the worktree sidecar, the report is
          // rewritten but its block regeneration forgotten, and the stale
          // block sails green pre-commit, leaving the repo red for the next
          // suite run. An edited report must match the worktree sidecar it
          // claims to describe.
          lazy val reportUnmodified: Boolean =
            try new ProcessBuilder("git", "diff", "--quiet", "HEAD", "--",
              reportPath.toString).directory(root.toFile).start()
              .waitFor() == 0
            catch { case _: Throwable => false }
          // ...and the committed state compared against is the sidecar AS
          // OF THE COMMIT THAT LAST TOUCHED THE REPORT — the artifact the
          // report was committed alongside. Comparing against HEAD's
          // sidecar (the pre-r18 rule) turned every report red one round
          // later, when the driver's round-end commit replaced the sidecar
          // with its own run's artifact: a historical report describes its
          // own round's committed record, not whatever artifact is newest.
          lazy val committedAtReport: Option[String] = for {
            rev <- git("log", "-1", "--format=%H", "--", reportPath.toString)
            txt <- git("show", s"${rev.trim}:BENCH_SIDECAR.json")
          } yield ReportNumbers.block(txt)
          assert(embedded == worktree ||
              (reportUnmodified && committedAtReport.contains(embedded)),
            s"$reportPath Numbers block matches neither the working-tree " +
              s"$sidecarPath nor (for an unmodified report) the sidecar " +
              "committed alongside the report — regenerate with " +
              "`runMain graft.tools.ReportNumbers`")
        }
    }
  }
}
