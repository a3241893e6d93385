package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.{Dedup, Graph, Multimodal, Retrieval, Similarity, Sketches}
import graft.sources.Tables

/** Scale-ramp harness for the heavy dedup family: measures each operator on
  * deterministically synthesized 1x/3x/10x versions of the documents
  * fixture and prints wall time plus the fitted growth exponent
  * (log(t_10/t_1) / log 10 — 1.0 is linear, 2.0 quadratic). The 100 TB
  * design claims are plan-audited elsewhere (PLANS.md); this is the
  * measured leg: bucketed candidate generation should ramp ~linearly,
  * and anything super-linear names its cause.
  *
  * Corpus synthesis: copy i shifts doc_id by i*1e9 and prefixes every 5th
  * token with a copy marker — every 3-shingle window covering a marked
  * token changes, so Jaccard(copy, original) lands ~0.25, far below the
  * near-dup thresholds. The scaled corpus therefore has the SAME dup/near-
  * dup structure per copy (each copy keeps its internal near-dup pairs)
  * and no cross-copy pairs — pair count grows linearly with the factor,
  * which is what "10x the corpus at equal dup rate" means. Deterministic:
  * no RNG anywhere.
  *
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ScaleRamp [reps]"`
  */
object ScaleRamp {

  def scaledDocs(spark: SparkSession, dir: String, factor: Int): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    (0 until factor).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
        .withColumn("text", array_join(
          transform(split(trim(col("text")), "\\s+"),
            (w, ix) => when(ix % 5 === 0, concat(lit(s"cp${i}x"), w)).otherwise(w)),
          " "))
    }.reduce(_ unionByName _)
  }

  /** Scaled embeddings corpus: copy i shifts vec_id and deterministically
    * perturbs every component by up to ±0.3% (a hash of (id, position) —
    * no RNG), so copies are near the original but not byte-equal ties.
    * Cosine paths normalize internally, so the perturbation needs no
    * re-normalization; it only has to break exact duplication. */
  def scaledVecs(spark: SparkSession, dir: String, factor: Int): DataFrame = {
    val vecs = Tables(spark, dir, "embeddings")
    (0 until factor).map { i =>
      if (i == 0) vecs
      else vecs
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000000L))
        .withColumn("embedding",
          transform(col("embedding"), (v, ix) =>
            (v * (lit(1.0f) + ((col("vec_id") * 31 + ix * 7 + i) % 7 - 3)
              .cast("float") * lit(0.001f))).cast("float")))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val spark = Sessions.local("graft-scale-ramp", defaultCpus = 32)

    // SPARK_GRAFT_RAMP_FACTORS=10 iterates on one factor (debugging the
    // factor-10 lost-block abort without re-paying 1x/3x); RAMP_FIT rows
    // are only emitted when all three factors ran
    val factors = sys.env.get("SPARK_GRAFT_RAMP_FACTORS")
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 3, 10))

    // Silent-abort tripwire (r18): during the first funnel-family run, two
    // jobs aborted (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) without any
    // exception reaching the harness — the timing rows printed as if
    // nothing happened. A measurement over a window containing failed jobs
    // is not a measurement; every RAMP row now carries the failed-job
    // count observed during it, and a nonzero count voids the row.
    val failedJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // rdd id -> creation callsite, harvested from every job's stage infos:
    // when a job dies on `Checkpoint block rdd_X_p not found`, X's callsite
    // names the operator line that produced the lost checkpoint
    val rddSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobSites.put(e.jobId,
            e.stageInfos.map(_.name).mkString(" | ").take(300))
          e.stageInfos.foreach(_.rddInfos.foreach { ri =>
            rddSites.put(ri.id, s"${ri.name}@${ri.callSite}".take(160)) })
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          e.jobResult match {
            case org.apache.spark.scheduler.JobSucceeded => ()
            case failed =>
              failedJobs.incrementAndGet()
              // name the failed job's stages + error: a failure that never
              // propagates to the harness is otherwise unattributable
              val why = failed match {
                case org.apache.spark.scheduler.JobFailed(ex) =>
                  String.valueOf(ex.getMessage).replace('\n', ' ').take(200)
                case other => other.toString.take(200)
              }
              val lost = "rdd_(\\d+)_".r.findFirstMatchIn(why)
                .map(_.group(1).toInt)
              val lostSite = lost.map(id =>
                s" lost_rdd=$id site=[${rddSites.getOrDefault(id, "?")}]")
                .getOrElse("")
              println(s"RAMP_JOB_FAILED id=${e.jobId} " +
                s"stages=[${jobSites.getOrDefault(e.jobId, "?")}]$lostSite " +
                s"why=$why")
          }
        // RDD-id-level unpersist trace (debug aid for the lost-block
        // abort): correlate `Checkpoint block rdd_X_p not found` against
        // who dropped rdd_X and when
        override def onUnpersistRDD(
            e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
          if (sys.env.contains("SPARK_GRAFT_RAMP_TRACE"))
            println(s"RAMP_UNPERSIST rdd=${e.rddId} " +
              s"t=${System.currentTimeMillis()}")
      })

    // SPARK_GRAFT_RAMP_ONLY=graph,graph_gen runs a comma-separated family
    // subset (iterating on one family without re-paying the whole harness)
    val only = sys.env.get("SPARK_GRAFT_RAMP_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

    // Corpus materialization: `checkpoint` holds the scaled corpus as an
    // eager localCheckpoint (cheap, fine for map/agg-only operators);
    // `parquet` round-trips it through /tmp parquet — the production shape
    // ("the table on disk"), REQUIRED for operators that persist() frames
    // derived from the corpus: a cache-miss recompute over a truncated-
    // lineage checkpoint dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    // (observed on the funnel family, whose `gated` persist sits directly
    // over the corpus), while a parquet-backed corpus always recomputes.
    def ramp(family: String, synth: Int => DataFrame,
        ops: Seq[(String, DataFrame => DataFrame)],
        corpusVia: String = "checkpoint"): Unit = {
      if (!only.forall(_.contains(family))) return
      val mins = scala.collection.mutable.Map[(String, Int), Double]()
      factors.foreach { f =>
        // materialize the scaled corpus once so synthesis cost is not
        // billed to the operators (on a cluster this is the table on disk)
        val corpus =
          if (corpusVia == "parquet") {
            val path = s"/tmp/graft_ramp_${family}_$f.parquet"
            synth(f).write.mode("overwrite").parquet(path)
            spark.read.parquet(path)
          } else synth(f).localCheckpoint(true)
        val n = corpus.count()
        ops.foreach { case (name, op) =>
          val times = (1 to reps).map { _ =>
            val fail0 = failedJobs.get()
            val t0 = System.nanoTime()
            op(corpus).write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            // a failed job's end may still be queued on the listener bus:
            // read the count once the bus has drained, not one row late
            Sessions.drainListeners(spark.sparkContext)
            val failed = failedJobs.get() - fail0
            if (failed > 0)
              println(s"RAMP_VOID op=$name factor=$f failed_jobs=$failed " +
                "(rep discarded: its window contains aborted jobs)")
            (dt, failed)
          }
          val clean = times.filter(_._2 == 0).map(_._1)
          mins((name, f)) =
            if (clean.nonEmpty) clean.min else Double.NaN
          println(f"RAMP op=$name%-18s factor=$f%-2d rows=$n%-7d " +
            f"min_sec=${mins((name, f))}%.2f clean_reps=${clean.size}/${times.size}")
        }
        if (corpusVia != "parquet") corpus.unpersist(blocking = true)
      }
      ops.foreach { case (name, _) =>
        val (t1, t3, t10) = (mins((name, 1)), mins((name, 3)), mins((name, 10)))
        val exp = math.log(t10 / t1) / math.log(10.0)
        println(f"RAMP_FIT family=$family op=$name%-18s t1=$t1%.2f t3=$t3%.2f t10=$t10%.2f exponent=$exp%.2f")
      }
    }

    ramp("dedup", scaledDocs(spark, sfDir, _), Seq(
      "exact_dedup" -> (d => Dedup.exact(d)),
      "minhash_neardups" -> (d => Dedup.minhashNearDups(d, threshold = 0.8)),
      "neardup_clusters" -> (d =>
        Dedup.nearDupClusters(Dedup.minhashNearDups(d, threshold = 0.5))),
      "containment_pairs" -> (d => Dedup.containmentPairs(d)),
      // exact-substring spans: the anchor frame grows linearly with total
      // chars; scaledDocs' per-copy token perturbation (every 5th token)
      // keeps cross-copy 40-char spans rare, so the exponent reads the
      // shared-gram aggregate + diagonal-run pass, not quadratic output
      "exact_substr_spans" -> (d => Dedup.exactSubstrSpans(d, minLen = 40)),
      "bm25_topk" -> (d => Retrieval.bm25TopK(d))))

    // The q72 curation-funnel composition (r17 verdict #7): PROFILING
    // attributes q72's fixture cost to stacks of 32-partition shuffles —
    // floor-dominated, the scale-correct shape. This row converts that
    // claim into a fitted exponent: decontamination gate -> langid/quality
    // gates -> minhash near-dup -> CC clustering -> survivor join ->
    // mixture resample -> split accounting, end to end on 1x/3x/10x
    // corpora. scaledDocs keeps dup structure per copy with no cross-copy
    // pairs, so near-dup pair count and CC component count grow linearly —
    // "10x the corpus at equal dup rate". The row runs q72's own body; its
    // eval split (doc_id % 97) survives the per-copy id shift (1e9 % 97 != 0
    // rotates the residue per copy — same eval fraction, different docs).
    ramp("funnel", scaledDocs(spark, sfDir, _), Seq(
      "q72_funnel" -> (d => graft.queries.Text.curationFunnel(d))), corpusVia = "parquet")

    // The maxBucket lever under a DEGENERATE corpus (q195's shape): one
    // shared 98-char block on every third doc puts ~60 gram buckets at
    // occupancy n/3 — uncapped, the pair stage is C(n/3, 2) per bucket
    // and this ramp would not finish factor 10 (16,667-doc buckets ≈
    // 7e12 pair rows); capped, each bucket contributes at most C(24, 2)
    // pairs and the wall should track the LINEAR gram frame. This row is
    // the scale evidence for the knob a boilerplate-heavy 100 TB corpus
    // needs.
    val bp = graft.queries.Text.BoilerplateBlock
    def boilerplateDocs(f: Int): DataFrame =
      scaledDocs(spark, sfDir, f).withColumn("text",
        when(col("doc_id") % 3 === 0, concat(lit(bp), lit(" "), col("text")))
          .otherwise(col("text")))
    ramp("dedup_capped", boilerplateDocs, Seq(
      "substr_spans_cap24" ->
        (d => Dedup.exactSubstrSpans(d, minLen = 40, maxBucket = 24))))

    // The segmented overflow self-repeat path (r16): every doc here is far
    // past the (test-reduced) inline cutoff, so ALL work goes through
    // internalRepeatOverflow's slice-exploded grouped form — the branch
    // that is empty on real corpora and exists for the pathological tail.
    // Docs inflate to ~64-128k chars via repeat (trivially self-repetitive,
    // which is fine: timing measures the gram mass, and the per-(doc,gram)
    // counts see worst-case duplication); the corpus axis scales doc count,
    // so the exponent reads total character mass. Expected ~linear; per-task
    // transient memory stays O(segLen) regardless of doc length.
    // limit() collapses to one partition — spread the inflated docs back
    // over the cores or the whole ramp times a single task
    def overflowDocs(f: Int): DataFrame =
      Tables(spark, sfDir, "documents").orderBy("doc_id").limit(100 * f)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), repeat(col("text"), 512).as("text"))
    ramp("repeat_overflow", overflowDocs, Seq(
      "overflow_repeat" -> (d => Dedup.internalRepeatOverflow(d,
        minLen = 20, maxInlineChars = 1000, segLen = 16384))))

    // The broadcast decontamination gate (q197's shape): the eval gram
    // index is FIXED (benchmark suites don't grow with the corpus) while
    // the corpus axis scales — the gate is a map-only gram projection
    // into a BroadcastHashJoin, so the exponent should read the linear
    // corpus scan, independent of the eval side. Excerpts come from the
    // BASE fixture; scaledDocs' per-copy token markers break cross-copy
    // 40-char runs, so hit cardinality stays pinned to copy 0.
    val evalSet = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 97 === 0 && length(col("text")) >= 130)
      .select(col("doc_id"), substring(col("text"), 10, 120).as("text"))
      .localCheckpoint(true)
    ramp("decontam", scaledDocs(spark, sfDir, _), Seq(
      "substr_gate_bcast" -> (d =>
        graft.operators.Decontamination.substrHits(d, evalSet).distinct())))

    // Fixed 256-query probe set from the base fixture: the scaled axis is
    // the CORPUS (index build + candidate generation); query fan-out is a
    // constant multiplier and stays pinned so exponents read corpus growth.
    val queries = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 37 === 0).limit(256).localCheckpoint(true)
    ramp("ann", scaledVecs(spark, sfDir, _), Seq(
      "ivf_knn" -> (c => Similarity.ivfKnnJoin(c, queries, k = 10,
        nProbe = 4, trainIterations = 2)),
      "lsh_knn" -> (c => Similarity.lshKnnJoin(c, queries, k = 10,
        tables = 4)),
      "ivfpq_encode" -> { c =>
        val mdl = Similarity.trainIvfPq(c)
        Similarity.encodeIvfPq(c, mdl)
      }))

    // Media decode+hash: pure map work over real codec bytes (the corpus
    // materialization pays the ENCODE; the operator pays decode + hash) —
    // expected ~linear. Ids shift per copy like every other synth; all
    // pattern/variant arithmetic is id-derived, so copies are distinct
    // assets, not byte-duplicates.
    def mediaAssets(media: String)(f: Int): DataFrame = {
      val ids = scaledDocs(spark, sfDir, f)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 === lit(Seq("image", "audio", "video").indexOf(media).toLong))
      val assets = Multimodal.assetize(ids)
      media match {
        case "image" => Multimodal.withSyntheticPatternImages(assets)
        case "audio" => Multimodal.withSyntheticAudioVariants(assets)
        case _ => Multimodal.withSyntheticPatternVideos(assets)
      }
    }
    ramp("media_image", mediaAssets("image"), Seq(
      "image_ahash" -> (d => Multimodal.imageAHash(d).toDF())))
    ramp("media_audio", mediaAssets("audio"), Seq(
      "audio_fingerprint" -> (d => Multimodal.audioFingerprint(d).toDF())))
    ramp("media_video", mediaAssets("video"), Seq(
      "video_frame_hashes" -> (d => Multimodal.videoFingerprint(d).toDF())))

    // Signature banding at CONSTANT near-dup group size: groups of 4, each
    // variant one bit off its group's 64-bit base — pair count grows
    // linearly with the corpus (6 per group), so the exponent reads the
    // banded join, not fixture degeneracy. (The q159 pattern fixture has 7
    // giant band-groups by design — right for oracle-exactness, wrong for
    // a scaling measurement.)
    def synthSigs(f: Int): DataFrame =
      spark.range(5000L * f).selectExpr("id",
        """xxhash64(id DIV 4) ^
           shiftleft(CAST(1 AS BIGINT),
             CAST(((id % 4) * 17 + 3) % 63 AS INT)) AS sig""")
    ramp("signatures", synthSigs, Seq(
      "hamming_pairs" -> (d => Dedup.signatureHammingPairs(d, "id", "sig",
        blocks = 4, maxHamming = 2))))

    // Graph analytics (round-12, VERDICT #5): events copies shift BOTH the
    // user id AND the feature value, so the co-engagement graph is f
    // DISJOINT copies of the base graph — node/edge counts grow linearly
    // with no cross-copy edges, and the exponents read the algorithms, not
    // fixture coupling (an unshifted feature would bucket copy users with
    // original users and grow the pair stage quadratically in f).
    def scaledEvents(f: Int): DataFrame = {
      val ev = Tables(spark, sfDir, "events")
      (0 until f).map { i =>
        if (i == 0) ev.select(col("user_id"), col("props"))
        else ev.select(
          (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
          concat(lit("{\"k\":"),
            (get_json_object(col("props"), "$.k").cast("long")
              + lit(i.toLong * 1000000L)).cast("string"),
            lit("}")).as("props"))
      }.reduce(_ unionByName _)
    }
    // the edge GENERATOR ramps on the events corpus...
    ramp("graph_gen", scaledEvents, Seq(
      "co_engagement" -> (ev => Graph.coEngagementEdges(ev))))
    // ...and the algorithms ramp on a pre-materialized edge list, so their
    // exponents don't re-bill generation
    ramp("graph", f => Graph.coEngagementEdges(scaledEvents(f)), Seq(
      "triangles" -> (e => Graph.triangleCounts(e)),
      "kcore" -> (e => Graph.kCore(e, k = 4, strict = false)),
      "adamic_adar" -> (e => Graph.adamicAdar(e)),
      "label_prop" -> (e => Graph.labelPropagation(e, rounds = 4)),
      "hyperball_2hop" -> { e =>
        // q164's composition: ball-1 registers, one neighbor propagation,
        // register max, estimate (see queries.Sketch q164)
        val sym = e.select(col("src").as("node"), col("dst").as("nb"))
          .union(e.select(col("dst").as("node"), col("src").as("nb")))
        val ball1 = sym.select(col("node"), col("node").as("item"))
          .union(sym.select(col("node"), col("nb").as("item")))
        val r1 = Sketches.hllRegisters(ball1, Seq("node"), col("item"), 12)
          .localCheckpoint(true)
        val prop = r1.union(
          sym.join(r1.withColumnRenamed("node", "nb"), "nb")
            .select(col("node"), col("bucket"), col("register")))
          .groupBy(col("node"), col("bucket"))
          .agg(max(col("register")).as("register"))
        Sketches.hllEstimate(prop, Seq("node"), 12)
      }))
    spark.stop()
  }
}
