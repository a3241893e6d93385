package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plan of a representative
  * catalog slice, each with the scale property the plan must exhibit. Run
  * after any planner-visible change; the committed file is the review
  * artifact showing the plans are the ones we WANT, not just the ones that
  * passed. */
object PlanDump {
  private val picks: Seq[(String, String)] = Seq(
    "q02_filter_project" ->
      ("Scan-level pruning: the parquet scan must show PushedFilters for the " +
        "predicate and a ReadSchema limited to the projected columns — at " +
        "100 TB this is the difference between reading 2 columns and 16."),
    "q04_revenue_by_nation" ->
      ("Flagship 5-way join: the two large tables (orders x lineitem) meet " +
        "in a shuffled hash/sort-merge join on the key; every dimension " +
        "(customer/nation/region) arrives via BroadcastHashJoin. No " +
        "dimension may shuffle the fact table a second time."),
    "q21_gap_detection" ->
      ("Events sessionization: one Exchange on the session key feeding the " +
        "window — the sort and lag run inside the same partition; no " +
        "global (empty-key) window anywhere."),
    "q34_exact_dedup" ->
      ("Exact dedup: ONE shuffle on the content fingerprint (the groupBy); " +
        "the scan computes md5 map-side. Nothing corpus-sized is sorted " +
        "globally."),
    "q46_minhash_neardups" ->
      ("MinHash LSH: signatures are computed once (InMemoryTableScan of the " +
        "persisted signature table on both self-join sides), the band " +
        "explode shuffles only (id, band, bucket) rows, and the Jaccard " +
        "refinement semi-joins the candidate ids before any shingle " +
        "materialization."),
    "q53_ivf_knn" ->
      ("IVF ANN: the centroid table broadcasts (BroadcastHashJoin / " +
        "BroadcastNestedLoopJoin over <= 4096 rows); the corpus is probed " +
        "cell-bucketed — no all-pairs join of corpus x queries."),
    "q61_token_packing" ->
      ("Sharded packing: the running sum's Window partitions by the shard " +
        "key (Exchange hashpartitioning(shard)) — a global-order running " +
        "sum would be a single-partition window, the classic scale trap."),
    "q87_cms_heavy_hitters" ->
      ("CMS sketch: cell build is a map-side-combined HashAggregate over at " +
        "most d*w cells; the 20-row probe side broadcasts into the final " +
        "join."),
    "q106_token_chunking" ->
      ("Chunking: a pure map stage — sequence/explode/slice with NO " +
        "Exchange before the presentation sort (which drops at scale when " +
        "chunks stream to a writer)."),
    "q114_bigram_nll" ->
      ("Bigram LM: every join is vocabulary-keyed (w1/w2 hash joins); the " +
        "scalar token total arrives by broadcast; the only corpus-keyed " +
        "shuffle is the per-(doc, bigram) partial aggregate."),
    "q121_rate_anomaly" ->
      ("Rate anomaly: ONE (type, hour) partial-aggregable groupBy reduces " +
        "the corpus to the hourly grid BEFORE the window stage; the " +
        "trailing-24h stats run as a RANGE frame inside the per-type " +
        "partition — no global window, and the windowed frame is hours x " +
        "types regardless of event count."),
    "q127_hybrid_rrf" ->
      ("Hybrid RRF: the sparse leg is a token-keyed posting-list join " +
        "(Exchange on tok), never candidates x candidates; the dense leg's " +
        "only nested loop is the bounded <= 20-vector broadcast query " +
        "side; fusion joins the two rank lists on (query, neighbor) — " +
        "top-N-sized frames."),
    "q131_native_topk" ->
      ("Custom top-k operator: TWO TopKPerKey phases (partial=true below " +
        "the Exchange, final above) and NO Sort or Window node — the " +
        "exchange carries at most k rows per key per input partition, " +
        "which is the difference between shuffling survivors and " +
        "shuffling the corpus at 100 TB."),
    "q133_bm25_topk" ->
      ("BM25 search: ONE tokenize feeds tf; df and doc-length re-aggregate " +
        "it (no second corpus scan); the corpus constants (N, avgdl) " +
        "arrive by broadcast; the per-term ranking keeps the rank column, " +
        "so it runs as Spark's partial/final WindowGroupLimit pair (k rows " +
        "per partition cross the exchange; the TopKPerKey rewrite applies " +
        "only when the rank is dropped) — posting lists, never the corpus, " +
        "bound every shuffle."),
    "q139_interval_join" ->
      ("Range join: the containment predicate executes as a HASH join on " +
        "(user, hour-bucket) — NO BroadcastNestedLoopJoin / " +
        "CartesianProduct anywhere. The interval side fans out by its " +
        "span/bucket ratio; the point side maps each row to one bucket."),
    "q140_containment_pairs" ->
      ("Containment pairs: the candidate generator probes only each doc's " +
        "df-rarest prefix shingles into the shingle-keyed index (Exchange " +
        "on sh) — complete by pigeonhole, sub-quadratic by construction; " +
        "the exact-overlap refinement joins by doc id over candidate pairs " +
        "only. The all-pairs scan exists only in the DuckDB oracle."),
    "q147_spacesaving_topk" ->
      ("Mergeable SpaceSaving: the typed Aggregator runs as an " +
        "ObjectHashAggregate with a PARTIAL phase below the exchange — " +
        "capacity-bounded summaries, not raw (group, item) counts, cross " +
        "the wire, so shuffle bytes are groups x capacity regardless of " +
        "item cardinality."),
    "q149_ivfpq_knn" ->
      ("IVF-PQ: the index side is (cell, id, 8 code bytes) — vectors are " +
        "DROPPED before the probe join, so the one cell-keyed Exchange " +
        "shuffles byte codes, not fp32 arrays (the 100 TB memory story). " +
        "ADC scoring is a codegen'd per-row HOF over the codes; the exact " +
        "re-rank joins the small ADC shortlist back to the corpus by id."),
    "q159_image_phash_dedup" ->
      ("Image perceptual-hash dedup: the decode + 64-bit aHash is one " +
        "map-only mapPartitions pass (no shuffle until the hash frame), " +
        "and the pair stage is the banded signature self-join — Exchange " +
        "on (block, key), equi-join within buckets, hamming filter before " +
        "the distinct. No all-pairs stage; the exhaustive scan exists " +
        "only in the DuckDB oracle."),
    "q163_triangle_count" ->
      ("Degree-ordered triangle counting: every join is a HASH equi-join " +
        "— orientation joins degrees by endpoint, wedges self-join the " +
        "oriented list on the apex (out-degree O(sqrt m) caps wedge " +
        "fan-out; a skewed hub emits zero wedges), and one more hash join " +
        "closes them against the canonical edge set. The naive 3-way " +
        "enumeration exists only in the DuckDB oracle."),
    "q176_sql_image_dedup" ->
      ("SQL-authored media dedup over the graft_image_ahash view: the " +
        "decode is a map-only mapPartitions under the view, the SQL " +
        "banding lowers to one Exchange on (blk, bandkey) + hash " +
        "equi-join + aggregate (never all-pairs), and the exact " +
        "bit_count re-check is a codegen'd projection — proof the SQL " +
        "surface plans the same scale shape as the Scala operator " +
        "(q159)."),
    "q177_label_propagation" ->
      ("Label propagation: each round is one hash join (adjacency x " +
        "labels, keyed by neighbor) + one partial-aggregated " +
        "(node, label) count + one window partitioned BY NODE (bounded " +
        "by max degree, never a global sort), with the round output " +
        "localCheckpoint'd so plan depth stays constant across rounds — " +
        "the same fixed-length loop discipline as PageRank, no driver " +
        "pulls at all."),
    "q179_sql_communities" ->
      ("SQL community surface: the registration materializes ONLY the " +
        "label-propagation view (r13 split — q168/q179 no longer pay each " +
        "other's eager graph materialization), and the SQL text itself " +
        "plans as one reused scan of the materialized labels: a " +
        "partial-aggregated community count hash-joined back by " +
        "community — no re-derivation of the propagation, no window."),
    "q180_fuzzy_decontamination" ->
      ("Cross-corpus fuzzy decontamination: train-side MinHash signatures " +
        "band-explode and hash-join the eval-side banded index (Exchange " +
        "on (band, bucket), never train x eval all-pairs); only " +
        "band-colliding pairs reach the exact-Jaccard refinement, which " +
        "joins by doc id over the candidate set. The exhaustive " +
        "train x eval scan exists only in the DuckDB oracle."),
    "q184_exact_substr_spans" ->
      ("Exact-substring spans: the gram frame shuffles (hash, id, pos) " +
        "tuples once for the shared-hash aggregate (min!=max distinct-doc " +
        "test, partial-aggregated map-side), and only grams in >= 2 docs " +
        "re-enter the pair equi-join (Exchange on gh). The diagonal-run " +
        "window partitions by (doc_a, doc_b, diag) — bounded per pair, " +
        "never a global sort; span extents come from one " +
        "partial-aggregated groupBy. No all-pairs stage anywhere; the " +
        "gram-string join exists only in the DuckDB oracle."),
    "q185_dsir_selection" ->
      ("DSIR selection: two vocabulary-keyed (bucket) aggregates build " +
        "the target/raw models, the one-row totals broadcast onto the " +
        "256-row ratio frame (whitelisted one-row BNLJ), per-doc weights " +
        "are a bucket-keyed hash join + partial-aggregated DECIMAL sum, " +
        "and the Gumbel-top-k lowers to TakeOrderedAndProject — k rows " +
        "per partition cross the wire, never a global sort."),
    "q189_sql_substr_spans" ->
      ("SQL-authored spans (r14 CTE-materialization fix, r15 candidate " +
        "materialization): the gram explode and the shared-hash " +
        "prefilter each run ONCE — the span plan's only leaves are TWO " +
        "InMemoryTableScans of the persisted candidate view (both pair-" +
        "join sides) and ZERO Generate nodes; InlineCTE would otherwise " +
        "re-explode per consumer (the r14 1.6x) and re-run the gh-" +
        "shuffle aggregate per join side (verified in the r14 executed " +
        "plan: two ShuffleQueryStages for one aggregate). The plan below " +
        "is the PRE-localCheckpoint interior (the committed query's own " +
        "plan is the post-checkpoint Scan ExistingRDD, which cannot show " +
        "this); CatalogSpec pins both counts mechanically."),
    "q194_whitened_ivfpq" ->
      ("Whitened IVF-PQ: the rotation is ONE broadcast-model " +
        "mapPartitions pass (no shuffle — the d x d basis rides the task " +
        "closure), feeding exactly q149's index shape: byte codes on the " +
        "cell-keyed Exchange, ADC HOF projection, id-keyed exact re-rank " +
        "of the shortlist. The one-row drift/contract aggregates " +
        "cross-join (whitelisted one-row BNLJ)."),
    "q195_capped_substr_spans" ->
      ("Capped spans under degenerate boilerplate: the synthesized " +
        "corpus puts ~60 gram buckets at occupancy n/3, and the plan " +
        "must show the cap's row_number window (partitioned by gh, " +
        "bounded per bucket) BETWEEN the shared-gram prefilter and the " +
        "pair join — so the join sees at most cap rows per bucket and " +
        "the quadratic blowup never materializes. The drop ledger is " +
        "one partial-aggregated groupBy over the gram frame."),
    "q196_capped_index_spans" ->
      ("q195's cap on the INCREMENTAL path: the index-side gram frame is " +
        "persisted once (InMemoryTableScan on the ledger aggregate, the " +
        "cap's occupancy pass, and the probe join), the cap's row_number " +
        "window (partitioned by gh) sits on the INDEX side only — the " +
        "probe batch never pays it — and the probe x index join is a " +
        "plain gh equi-join seeing at most cap index rows per bucket. " +
        "No within-side pairs anywhere (the incremental contract)."),
    "q197_substr_decontamination" ->
      ("Verbatim-span decontamination gate: the eval gram index is " +
        "BROADCAST (benchmark suites are small and fixed-size), so the " +
        "corpus side is a map-only gram projection feeding a " +
        "BroadcastHashJoin — the corpus' only Exchange is the small " +
        "matched-pair distinct AFTER the join, never the gram frame " +
        "itself. The existence test needs no diagonal-run window (a " +
        "shared >= L span exists iff an L-gram anchor matches), which is " +
        "what makes the gate stateless-streaming-safe per ingest batch."))

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-plan-dump", defaultCpus = 8)
    // PLANS.md states its capture width; keep it whatever the environment says
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the representative catalog slice\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.tools.PlanDump\"` after any\n")
    sb.append("planner-visible change. Each section states the scale property the\n")
    sb.append("plan must exhibit; the plan below it is the evidence. Plans are\n")
    sb.append(s"captured at sf0.001 with shuffle.partitions=8 (shapes, not sizes,\n")
    sb.append("are what carry to a 1000-executor cluster).\n")
    picks.foreach { case (name, why) =>
      // q189's committed frame is post-localCheckpoint (Scan ExistingRDD) —
      // dump its PRE-checkpoint interior instead, where the single-
      // materialization evidence lives (r14 verdict #3)
      def formatted(df: org.apache.spark.sql.DataFrame) = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      var plan = ""
      if (name == "q189_sql_substr_spans")
        graft.queries.Text.sqlSubstrSpans(spark, dir) { spans => plan = formatted(spans); spans }
      else plan = formatted(byName(name).fn(spark, dir))
      sb.append(s"\n## $name\n\n")
      sb.append(s"**Must hold at scale:** $why\n\n")
      sb.append("```\n").append(plan.trim).append("\n```\n")
    }
    // ---- AQE evidence: what the runtime re-planner does to these shapes
    // when the static partition count is cluster-sized instead of
    // laptop-sized. Everything below runs with shuffle.partitions=128 (the
    // floor a real cluster would configure) and captures the FINAL adaptive
    // plan after execution — isFinalPlan=true, with AQEShuffleRead nodes
    // showing the runtime coalesce.
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sb.append("\n# AQE — runtime re-planning evidence at 128 shuffle partitions\n\n")
    sb.append("The catalog sessions run AQE-on (Spark's default; CatalogSpec\n")
    sb.append("asserts it) with shuffle.partitions sized to local cores. A real\n")
    sb.append("cluster sets partitions in the hundreds-to-thousands; these\n")
    sb.append("sections show the SAME query code under shuffle.partitions=128,\n")
    sb.append("executed, with the final adaptive plan captured. At 1000\n")
    sb.append("executors nothing in the query code changes: AQE coalesces each\n")
    sb.append("exchange down to data-sized partition counts per stage (the\n")
    sb.append("AQEShuffleRead `coalesced` nodes below), and the skew-join rule\n")
    sb.append("splits oversized partitions of any corpus-keyed join the same way\n")
    sb.append("it splits the planted hot key below.\n")
    val q72 = byName("q72_full_pipeline")
    val df72 = q72.fn(spark, dir)
    df72.collect() // execute THIS queryExecution (count() would plan a new one)
    sb.append("\n## q72_full_pipeline under AQE (executed, final plan)\n\n")
    sb.append("**Must hold at scale:** with 128 static partitions on fixture-\n")
    sb.append("sized stages, every exchange is runtime-coalesced (AQEShuffleRead\n")
    sb.append("coalesced) instead of running hundreds of near-empty tasks; the\n")
    sb.append("stage-materialized funnel head keeps its one-keyed-shuffle-per-\n")
    sb.append("stage shape underneath.\n\n")
    sb.append("```\n").append(df72.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).trim)
      .append("\n```\n")
    // Skew-join: a deliberately hot key (70% of a 300k-row left side on one
    // join key) with broadcast disabled so the join is sort-merge — the
    // shape a corpus-keyed join degenerates into when one source/cluster/
    // fingerprint dominates. Thresholds are scaled to fixture bytes; on a
    // cluster the defaults (256 MB) play the same role.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    val hot = spark.range(0, 300000).select(
      when(col("id") % 10 < 7, 0L).otherwise(col("id") % 1000).as("k"),
      col("id").as("v"))
    val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    // a GLOBAL aggregate downstream, deliberately: a groupBy on the join
    // key would reuse the join's hash partitioning, and OptimizeSkewedJoin
    // declines to split a skewed partition when the split would force an
    // extra shuffle for such a downstream consumer — the global aggregate
    // imposes no distribution requirement, so the rule is free to act
    val skewed = hot.join(dim, "k").agg(sum(col("v") + col("w")).as("s"))
    skewed.collect()
    sb.append("\n## Hot-key join under AQE skew handling (executed, final plan)\n\n")
    sb.append("**Must hold at scale:** the partition holding the hot key (70% of\n")
    sb.append("the left side) is split by OptimizeSkewedJoin — the sort-merge\n")
    sb.append("join's left read shows `coalesced and skewed` instead of leaving\n")
    sb.append("one straggler task; the small side coalesces as usual. This is\n")
    sb.append("the mechanism (plus explicit salting in the operators that\n")
    sb.append("pre-aggregate) that protects corpus-keyed joins when one source\n")
    sb.append("or fingerprint dominates a 100 TB corpus.\n\n")
    sb.append("```\n").append(skewed.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).trim)
      .append("\n```\n")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // Repo root from env or the forked JVM's working directory (sbt forks
    // in the project base directory) — not a hardcoded checkout path.
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO",
      sys.props.getOrElse("user.dir", "."))
    Files.write(Paths.get(s"$repoRoot/PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"$repoRoot/PLANS.md written (${picks.size} plans)")
    spark.stop()
  }
}
