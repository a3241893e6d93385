package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}

import graft.{Sessions, SparkEntry, SparkSpec}

/** Catalog-wide contract: every query runs on sf0.001, returns rows, leaves
  * no cached frame and runs no failed job, and (the oracle gate's hashing
  * requirement) every oracle references only columns the Spark result
  * actually produces. Value-level equivalence is covered by the DuckDB gate
  * (tools/check_oracle.py). */
class CatalogSpec extends SparkSpec {

  test("catalog names are unique and well-formed") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct == names)
    assert(names.forall(_.matches("q[0-9]{2,3}_[a-z0-9_]+")))
  }

  /** Queries whose plans deliberately contain a BroadcastNestedLoopJoin.
    * Every entry is one of two safe shapes: (a) a ONE-ROW scalar aggregate
    * cross-joined onto a frame (corpus totals, audit counters, budget
    * scalars), or (b) an exact-by-design theta join whose broadcast side is
    * explicitly bounded (<= 25 query vectors / a 20-source matrix / a
    * capped stats frame). Anything else showing a BNLJ — or ANY
    * CartesianProduct — is a scale bug: at 100 TB an unbounded nested-loop
    * side is the difference between a broadcast and a cluster-killer. */
  private val deliberateBnlj: Set[String] = Set(
    "q20_having_subquery", "q40_cosine_topk", "q41_knn_join",
    "q66_tfidf_topterms", "q69_passage_candidates", "q70_mixture_plan",
    "q71_planned_mix", "q72_full_pipeline", "q76_semantic_dedup",
    "q80_unigram_nll", "q81_source_drift", "q82_quality_scoreboard",
    // q85 cross-joins the ONE-ROW z-order tiling aggregate with the
    // ONE-ROW arrival-order tiling aggregate (shape (a)) — the r19
    // exactNtile rewrite that removed the two single-partition global
    // ntile windows
    "q85_zorder_pruning",
    "q88_hll_source_overlap", "q91_bloom_prune_join", "q93_funnel_conversion",
    "q97_join_advisor", "q99_range_layout_audit", "q105_quality_audit",
    "q107_split_leakage", "q113_quantized_recall", "q114_bigram_nll",
    "q115_leakage_safe_split", "q117_temperature_mix",
    // q123 inherits q114's one-row model-total broadcast (bigramNll's tot)
    "q123_perplexity_band",
    // q126/q127 run knnJoin's theta join against a <= 20-vector broadcast
    // query side (q41's justification)
    "q126_filtered_knn", "q127_hybrid_rrf",
    // q133 cross-joins the ONE-ROW (n_docs, avgdl) corpus-constants
    // aggregate onto the posting scan (shape (a))
    "q133_bm25_topk",
    // q152 selects from the graft_bm25_topk view = q133's plan verbatim
    "q152_sql_bm25_view",
    // q158 cross-joins the ONE-ROW annContract aggregate with the ONE-ROW
    // append-mismatch counter (shape (a)), and runs ivfPqSearch's bounded
    // <= 5-query broadcast side (q41's justification)
    "q158_ivfpq_incremental",
    // q172 assembles per-modality summary rows from ONE-ROW count
    // aggregates cross-joined pairwise (shape (a))
    "q172_multimodal_dedup_report",
    // q178 cross-joins the ONE-ROW (unigram total, pair total) corpus
    // constants onto the collocation frame (shape (a))
    "q178_pmi_collocations",
    // q185 cross-joins the ONE-ROW target/raw feature-total scalars onto
    // the per-bucket ratio frame (shape (a))
    "q185_dsir_selection",
    // q187 inherits q185's one-row total broadcasts plus its own ONE-ROW
    // class-prior count scalars (shape (a))
    "q187_classifier_filter",
    // q192 cross-joins the ONE-ROW corpus-count scalar onto the token and
    // doc frames for the decile arithmetic (shape (a))
    "q192_vocab_growth",
    // q194 cross-joins the ONE-ROW annContract aggregate with the ONE-ROW
    // rotation-drift counter (shape (a)), and runs ivfPqSearch's bounded
    // <= 5-query broadcast side (q41's justification)
    "q194_whitened_ivfpq",
    // q195 cross-joins the ONE-ROW drop ledger with the ONE-ROW
    // exactness/recall aggregate (shape (a))
    "q195_capped_substr_spans",
    // q196 = q195's shape on the index path: ONE-ROW index drop ledger x
    // ONE-ROW exactness/recall aggregate (shape (a))
    "q196_capped_index_spans")

  private lazy val cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  for (q <- SparkEntry.catalog) {
    test(s"${q.name} executes on sf0.001 with rows > 0 and a scale-safe plan") {
      // a failed job can hide behind a retry or a caught exception and
      // still leave rows; count every job end that did not succeed
      val failed = new AtomicInteger
      val listener = new SparkListener {
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (e.jobResult != JobSucceeded) failed.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = q.fn(spark, sf0001)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"${q.name}: CartesianProduct in physical plan — never acceptable " +
            "at scale; express the pairing as an equi/bucket join")
        if (!deliberateBnlj(q.name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"${q.name}: unexpected BroadcastNestedLoopJoin — if the loop " +
              "side is provably bounded (scalar aggregate / capped query " +
              "set), add the query to deliberateBnlj with a justification")
        assert(df.count() > 0)
        assert(cacheManager.isEmpty, s"${q.name}: a cached frame outlived the query")
        Sessions.drainListeners(spark.sparkContext)
        assert(failed.get === 0, s"${q.name}: ${failed.get} jobs failed while it ran")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("q189 interior: the span plan reads ONLY the candidate cache " +
      "(2 InMemoryTableScans, both pair-join sides) and re-runs neither " +
      "the gram explode nor the shared-hash aggregate — the r14 1.6x " +
      "CTE-inlining regression guard, pinned mechanically") {
    Text.sqlSubstrSpans(spark, sf0001) { spans =>
      // walk the OPERATOR TREE, not its string form: an InMemoryTableScan
      // leaf's toString renders the whole cached-build plan (explode
      // included), so substring counting over-counts. sparkPlan is the
      // pre-AQE physical tree (executedPlan wraps it in an
      // AdaptiveSparkPlanExec whose input is not a `children` member).
      val plan = spans.queryExecution.sparkPlan
      def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
        p.getClass.getSimpleName +: p.children.flatMap(nodes)
      val names = nodes(plan)
      assert(names.count(_ == "InMemoryTableScanExec") === 2,
        s"expected the candidate cache on both pair-join sides, got:\n" +
          names.mkString(" "))
      assert(!names.contains("GenerateExec"),
        s"gram explode inlined into the span plan:\n${names.mkString(" ")}")
      assert(names.count(_.startsWith("HashAggregateExec")) <= 4,
        // final+partial span extents only — a shared-hash min/max pair
        // reappearing here would mean the prefilter re-planned per side
        s"unexpected aggregates in the span plan:\n${names.mkString(" ")}")
      spans
    }
  }

  test("q197 gate plan: the eval gram index broadcasts and the corpus side " +
      "is a map-only gram projection — no exchange of any kind below the " +
      "join (the property that makes the gate viable per-ingest-batch at " +
      "100 TB)") {
    val df = SparkEntry.queries("q197_substr_decontamination")(spark, sf0001)
    // pre-AQE tree (the broadcast is planned statically via broadcast())
    val plan = df.queryExecution.sparkPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    val bhj = nodes(plan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, s"expected a BroadcastHashJoin:\n$plan")
    // pre-AQE, exchanges aren't inserted yet — the streamed side is the
    // child OPPOSITE the join's declared buildSide
    val streamedSide = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.right
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.left
    }
    val streamedNames = nodes(streamedSide).map(_.getClass.getSimpleName)
    assert(!streamedNames.exists(_.contains("Exchange")),
      s"corpus side must reach the join map-only, got:\n" +
        streamedNames.mkString(" "))
    assert(streamedNames.contains("GenerateExec"),
      s"corpus gram projection missing below the join:\n" +
        streamedNames.mkString(" "))
  }

  test("q191 overflow branch: the pathological-doc repeat frame is the BUILD " +
      "side of a BroadcastHashJoin (the corpus-wide ledger side never " +
      "exchanges for this join) and carries the segmented two-level " +
      "aggregate below a Generate") {
    val df = SparkEntry.queries("q191_exact_curation_funnel")(spark, sf0001)
    val plan = df.queryExecution.sparkPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    val bhj = nodes(plan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    // the overflow join is the BroadcastHashJoin whose BUILD side is the
    // gram-hash aggregate (its `_gh` grouping attribute identifies it)
    val overflow = bhj.filter { b =>
      val build = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      }
      build.toString.contains("_gh")
    }
    assert(overflow.nonEmpty,
      s"expected the overflow repeat frame on a BroadcastHashJoin build side:\n$plan")
    val build = overflow.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => overflow.head.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => overflow.head.right
    }
    val buildNames = nodes(build).map(_.getClass.getSimpleName)
    // segmented shape: explode (Generate) feeding the per-(doc, gram) count
    // then the per-doc any-repeat fold — two aggregate levels
    assert(buildNames.contains("GenerateExec"),
      s"slice/gram explode missing in the overflow subtree:\n" +
        buildNames.mkString(" "))
    assert(buildNames.count(_ == "HashAggregateExec") >= 2,
      s"two-level (doc,gram)->doc aggregate missing:\n" +
        buildNames.mkString(" "))
  }

  test("AQE is on in the catalog session (runtime coalesce + skew-join at scale)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx_count_distinct (A4) stays within 5% of exact at fixture scale") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables(spark, sf001, "lineitem")
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx")).head
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }
}
