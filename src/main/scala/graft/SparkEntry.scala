package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators._
import graft.sources.Tables
import graft.streaming.EventStream.collectedInTempDir

/**
 * Driver contract (see SURVEY.md §2.3 for the declared query inventory).
 *
 * Every entry in [[queries]] is a lazy DataFrame transformation over the
 * driver testdata at `<sfDir>/<table>.parquet`; [[oracleSql]] carries the
 * DuckDB-equivalent SQL for the hash-matching correctness gate. Column names
 * are aligned pairwise (the driver sorts columns by name before hashing).
 */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextOps.textStats(Tables.read(spark, "/root/testdata/sf0.001", "documents"))

  private def ledger(s: SparkSession, dir: String): DataFrame = Tables.pipelineRuns(s, dir)
  private def docs(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.read(s, dir, "embeddings")
  }

  // Fixed parameters of the declared queries (FIXTURES.md).
  private val P = "click"
  private val I = "idx_0"
  private val Day = "2024-01-15"
  private val WStart = "2024-01-15 00:00:00"
  private val WEnd = "2024-01-16 00:00:00"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface (R1-R7 over the pipeline_runs ledger) ----
    "r1_overlap_input" -> ((s, d) =>
      OverlapOps.findOverlappingRecordsForInput(ledger(s, d), P, I, WStart, WEnd)
        .orderBy(col("record_id"))),
    "r2_count_by_status" -> ((s, d) =>
      StatusOps.countByStatus(ledger(s, d), "completed")),
    "r3_oldest_by_status" -> ((s, d) =>
      StatusOps.oldestByStatus(ledger(s, d), "pending")),
    "r4_latest_by_status" -> ((s, d) =>
      StatusOps.latestByStatus(ledger(s, d), "pending")),
    "r5_discontinuities" -> ((s, d) =>
      ContinuityOps.discontinuities(ledger(s, d), P, I, Day)),
    "r6_overlap_self_join" -> ((s, d) =>
      OverlapOps.findOverlappingQueryWindows(ledger(s, d), P, I, Day)
        .orderBy(col("source_window_start_ts"), col("source_window_end_ts"),
          col("overlaps_with_start_ts"), col("overlaps_with_end_ts"))),
    "r7_scalar_max" -> ((s, d) =>
      StatusOps.maxEndTs(ledger(s, d), P)),
    // ---- north-star extensions (E1-E4) ----
    "e1_dedup_exact" -> ((s, d) => TextOps.dedupExact(docs(s, d))),
    "e2_topk_cosine" -> ((s, d) => SimilarityOps.topkCosine(emb(s, d), 0L, 10)),
    // E2 over the int8-QUANTIZED store: same query through quantize →
    // dequantize → f32 cosine — the 3.8×-smaller-index path, gated against
    // an oracle replaying the identical quantization arithmetic.
    "x73_quantized_topk" -> ((s, d) =>
      SimilarityOps.topkCosineQuantized(emb(s, d), 0L, 10)),
    "e3_text_stats" -> ((s, d) => TextOps.textStats(docs(s, d))),
    "e4_multimodal_join" -> ((s, d) =>
      SimilarityOps.multimodalJoin(docs(s, d), emb(s, d))),
    // ---- training-data-pipeline operators (x1-x10) ----
    // The gated entries run UNCAPPED (Int.MaxValue) because the DuckDB
    // oracle models the full in-bucket clique; the production bucket-cap
    // default and its loser-set equivalence are property-tested separately
    // (PropertiesSpec) — this keeps the gate pinned to one well-defined
    // semantics at every scale factor.
    "x1_minhash_lsh" -> ((s, d) => DedupOps.minhashLsh(docs(s, d), 0.8, Int.MaxValue)),
    "x2_ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccard(docs(s, d), 0.8)),
    "x3_simhash" -> ((s, d) => DedupOps.simhash(docs(s, d), 3)),
    // centroidMod 100 keeps the cell count in the k ≈ √n regime at the
    // bench SF (20 cells for 2,000 vectors — measured ~20% faster than the
    // old mod 40); the pair set is centroid-independent by the exactness
    // guarantee, so the oracle result is unchanged.
    "x4_embed_neardup" -> ((s, d) => SimilarityOps.embeddingNearDup(emb(s, d), 0.4, 100)),
    // The TRAINED-quantizer near-dup path, end-to-end under the driver
    // gate: k-means||-trained centroids feed the same cell-pair join. The
    // pair set is provably centroid-independent (the per-cell
    // triangle-inequality radii guarantee exactness for ANY centroid
    // table), so the oracle is x4's — a hash-identical row proves the
    // trained path computes the same relation. maxIter 5 keeps the
    // training cost bench-sane; iteration count changes centroids, never
    // results.
    "x39_neardup_trained" -> ((s, d) =>
      SimilarityOps.embeddingNearDupWith(emb(s, d), 0.4,
        SimilarityOps.trainCentroids(emb(s, d), 16, seed = 42L, maxIter = 5))),
    // nProbe 12 of the 13 cells at the gated SF = the ≥0.9-recall
    // configuration the r6 sweep picked (recall 0.97 at sf0.01; the full
    // cost/recall grid incl. the trained-centroid curves is in
    // ARCHITECTURE.md — on this isotropic fixture recall ≈ probed corpus
    // fraction, so production recall costs most of the cells).
    "x5_ann_ivf" -> ((s, d) => SimilarityOps.annIvf(emb(s, d), 0L, 10, 40, 12)),
    "x6_langid" -> ((s, d) => TextOps.langId(docs(s, d))),
    "x7_quality" -> ((s, d) => TextOps.qualityStats(docs(s, d))),
    "x8_tokens" -> ((s, d) => TextOps.tokenStats(docs(s, d))),
    "x9_fingerprint" -> ((s, d) => TextOps.fingerprintCensus(docs(s, d))),
    "x10_multimodal_meta" -> ((s, d) => MultimodalOps.assetMetaStats(docs(s, d))),
    // Real image decode END-TO-END: deterministic P6 fixtures are encoded,
    // the pure-JVM PPM parser decodes header + pixel array, and the census
    // aggregates DECODED quantities only — the oracle replays the fixture
    // formula in closed form, so a parser that misread dims or skipped
    // header bytes hash-mismatches.
    "x70_image_decode" -> ((s, d) =>
      MultimodalOps.imageDecodeCensus(docs(s, d))),
    // ---- general analytics over the TPC-H-ish tables ----
    "a1_pricing_summary" -> ((s, d) =>
      Tables.read(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "a2_orders_by_nation" -> ((s, d) =>
      Tables.read(s, d, "orders")
        .join(Tables.read(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice")).cast("long")).as("total_floor"))
        .orderBy(col("n_name"))),
    "a3_event_type_daily" -> ((s, d) =>
      Tables.read(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
        .orderBy(col("event_type"), col("day"))),
    "a4_top_customers" -> ((s, d) =>
      Tables.read(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice")).cast("long")).as("tot"))
        .orderBy(col("tot").desc, col("o_custkey").asc)
        .limit(10)),
    "a5_running_total" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.read(s, d, "lineitem")
        .filter(col("l_suppkey") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .withColumn("run_cents", sum(col("cents")).over(
          Window.orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("l_orderkey"), col("l_linenumber"), col("run_cents"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    }),
    "r8_status_counts" -> ((s, d) =>
      StatusOps.countAllStatuses(ledger(s, d))),
    "x11_sessionize" -> ((s, d) =>
      EventOps.sessionize(Tables.read(s, d, "events"), 30)),
    "x12_length_quantiles" -> ((s, d) =>
      TextOps.lengthQuantiles(docs(s, d))),
    // Approx-distinct (HLL++): the raw estimate is engine-specific, so the
    // gated output carries the exact count plus a tolerance verdict on the
    // estimate (|approx-exact|/exact ≤ 5%, rsd 0.02 keeps observed error
    // ≤0.4% at sf0.001–0.1). The oracle emits literal TRUE — the gate fails
    // if either the exact count or the estimate's accuracy regresses.
    "x13_approx_users" -> ((s, d) =>
      Tables.read(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.05).as("hll_within_5pct"))
        .orderBy(col("event_type"))),
    // Bounded-heap top-k per group via a typed Aggregator (map-side partials
    // carry at most k rows) — same result as the window row_number oracle.
    "x14_topk_per_lang" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      docs(s, d)
        .groupBy(col("lang"))
        .agg(topk(col("doc_id"), col("n_chars")).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
        .select(col("lang"), (col("pos") + 1).as("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank"))
    }),
    // Distributed gap detection across ALL slices (window partitioned by the
    // slice keys — the 100 TB shape of R5).
    "x15_discontinuities_all" -> ((s, d) =>
      ContinuityOps.discontinuitiesAll(ledger(s, d))
        .orderBy(col("pipeline_name"), col("index_name"),
          col("missing_query_window_start_ts"), col("missing_query_window_end_ts"))),
    // The banded equi-join rewrite of R6 — identical result set, scalable plan.
    "x16_overlap_banded" -> ((s, d) =>
      OverlapOps.overlappingWindowsBanded(ledger(s, d), P, I, Day)
        .orderBy(col("source_window_start_ts"), col("source_window_end_ts"),
          col("overlaps_with_start_ts"), col("overlaps_with_end_ts"))),
    // Semi-structured column: JSON property extraction + integer aggregates
    // (the events.props payload — schema-on-read for the open row tail).
    "x17_props_stats" -> ((s, d) =>
      Tables.read(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          countDistinct(col("k")).as("distinct_k"))
        .orderBy(col("event_type"))),
    // As-of join: every purchase event picks up the user's most recent prior
    // (or simultaneous) error event — DuckDB's native ASOF JOIN is the oracle.
    "x18_asof_join" -> ((s, d) => {
      val ev = Tables.read(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("p_ts"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts").as("err_ts"))
        .agg(max(col("value")).as("err_value"))
      AsofOps.asofJoin(purchases, errors, Seq("user_id"), "p_ts", "err_ts",
          Seq("err_ts", "err_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // Hierarchical totals: ROLLUP grouping sets over orders.
    "a6_rollup_orders" -> ((s, d) =>
      Tables.read(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice")).cast("long")).as("tot"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)),
    // Anti join: customers who never placed an urgent order.
    "a7_customers_no_urgent" -> ((s, d) => {
      val urgent = Tables.read(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      Tables.read(s, d, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // Set operations: users who purchased AND errored on 2024-01-15 but did
    // not sign up that day (day-sliced so the sets are discriminative).
    "a8_set_ops" -> ((s, d) => {
      val ev = Tables.read(s, d, "events")
        .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-15")))
      def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      users("purchase").intersect(users("error")).except(users("signup"))
        .orderBy(col("user_id"))
    }),
    // The end-to-end curation funnel: quality gate -> exact dedup ->
    // near-dedup -> deterministic sample, census of survivors per stage.
    "x19_curation_funnel" -> ((s, d) =>
      CurationOps.curationFunnel(docs(s, d), 30, 0.8, 13)),
    // The funnel's CLEANED CORPUS — the surviving documents themselves,
    // gated via a per-lang census over their own columns (the output a
    // training run consumes; x19 only counts it).
    "x42_curation_corpus" -> ((s, d) =>
      CurationOps.curationCorpus(docs(s, d), 30, 0.8, 13)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))),
    // Benchmark decontamination: corpus docs sharing >= 5 shingles with the
    // deterministic doc_id % 97 == 0 "benchmark" subset, per language.
    "x21_decontaminate" -> ((s, d) =>
      CurationOps.decontaminate(docs(s, d), 97, 5)),
    // The overlap-FRACTION rule (contamination normalized by doc size):
    // ≥10% of a doc's shingles in the benchmark → contaminated; severity
    // carried as integer permille so the gate stays division-free.
    "x108_decontam_frac" -> ((s, d) =>
      CurationOps.decontaminateFrac(docs(s, d), 97, 100L)),
    // The production funnel END-TO-END in its large-benchmark (Bloom)
    // configuration: curation corpus -> Bloom decontamination -> CDC chunk
    // dedup, gated via the same per-lang census shape as x55. The oracle
    // composes the EXACT stages — the Bloom prefilter is hash-identical by
    // construction (no false negatives, exact confirm join).
    "x69_production_corpus" -> ((s, d) =>
      CurationOps.productionCorpus(docs(s, d), 97, 30, 0.8, 13, 5, 0.03, 8)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
        .orderBy(col("lang"))),
    // The trainer EXPORT end-to-end: production corpus → deterministic
    // split → train shard packed under subword (BPE) budgets. The final
    // composition a training run actually reads.
    "x76_trainer_export" -> ((s, d) => {
      GraftFunctions.register(s)
      val cleaned = CurationOps.productionCorpus(docs(s, d), 97, 30, 0.8, 13, 5, 0.03, 8)
      val train = PrepOps.splitAssign(cleaned).filter(col("split") === "train")
        .select(col("doc_id"), col("lang"), col("text"))
        // materialize the shard once: the packing prefix-sum scans its
        // input twice, and each lazy scan would re-run the entire funnel
        .localCheckpoint()
      PrepOps.seqPackCensus(train, 2048L, tokens = BpeOps.tokenCount())
    }),
    // Token-budget corpus mixing: per-source keep rates from weights +
    // a global token budget, deterministic hash-gated membership.
    "x23_token_mix" -> ((s, d) =>
      CurationOps.tokenBudgetMix(docs(s, d), 10000L)),
    // Frame sampling: every 4th 64-byte frame through the real Dataset
    // operator; the census must equal the oracle's closed-form arithmetic.
    // Source comes from the meta carried with each sample — one corpus
    // scan, no join back to the documents table.
    "x24_frame_sample" -> ((s, d) =>
      MultimodalOps.frameSample(MultimodalOps.documentsAsAssets(docs(s, d)), 64, 4)
        .toDF()
        .groupBy(element_at(col("meta"), "source").as("source"))
        .agg(
          count(lit(1)).as("n_assets"),
          sum(col("n_frames").cast("long")).as("total_frames"),
          sum(col("n_sampled").cast("long")).as("sampled_frames"),
          sum(octet_length(col("sample")).cast("long")).as("sampled_bytes"))
        .orderBy(col("source"))),
    // LSH recall census: the banded detector measured against the exact
    // ground-truth operator — true pairs, found, missed, the Jaccard range
    // of the misses, and the recall ratio (single division, rounded).
    // Uncapped for the same reason as x1 (the oracle models the clique;
    // x28 gates the capped generator), and run the way it is meant to be
    // used in production: on a deterministic doc_id-hash slice
    // (sampleNibbles 8 = half the docs, a quarter of the ground-truth
    // pair work; 8/3/61 true pairs at sf0.001/0.01/0.1).
    "x25_lsh_recall" -> ((s, d) =>
      DedupOps.lshRecallCensus(docs(s, d), 0.8, Int.MaxValue, sampleNibbles = 8)),
    // LSH band-bucket census at the production cap: how much of the corpus
    // is boilerplate-dense enough to engage the representative-star path.
    "x27_lsh_buckets" -> ((s, d) =>
      DedupOps.lshBucketCensus(docs(s, d))),
    // The CAPPED LSH path — the code path a 100 TB corpus actually takes.
    // maxBucketSize = 2 forces every bucket wider than a pair through the
    // representative-star generator on the fixture (buckets up to size 5
    // exist at sf0.01); the oracle models clique(≤cap) ∪ star(>cap)
    // explicitly, so the star pair set itself is hash-gated, not just
    // property-tested.
    "x28_lsh_capped" -> ((s, d) =>
      DedupOps.minhashLsh(docs(s, d), 0.8, 2)),
    // The funnel through the capped LSH path: proves the composite
    // pipeline (quality gate -> exact dedup -> CAPPED near-dedup ->
    // sample) is star-path-correct, not just the isolated operator.
    "x30_funnel_capped" -> ((s, d) =>
      CurationOps.curationFunnel(docs(s, d), 30, 0.8, 13,
        useLsh = true, maxBucketSize = 2)),
    // Near-dup clusters: connected components over the confirmed LSH pair
    // graph (min-label propagation) — the transitive-closure step a dedup
    // pipeline needs to keep one representative per cluster.
    "x34_dedup_components" -> ((s, d) =>
      DedupOps.dedupComponents(docs(s, d), 0.8, Int.MaxValue)),
    // The same clusters under EXACT-DUPLICATE COLLAPSE (round 9): LSH +
    // components over one representative per byte-identical text, labels
    // extended to members through the collapse relation — provably the
    // same components (gated against the identical oracle), at
    // distinct-text cost on replica-skewed corpora (see
    // dedupComponentsCollapsed; the 100x-replica probe is the measured
    // argument).
    "x156_components_collapsed" -> ((s, d) =>
      DedupOps.dedupComponentsCollapsed(docs(s, d), 0.8, Int.MaxValue)),
    // IVF recall census: exact brute-force top-k vs the probed-cell top-k
    // for a deterministic query sample — the measured trade-off record for
    // the x5 configuration, sibling of the LSH census x25. Gated at the
    // shipped (mod=40, nProbe=12) defaults: recall 0.97 at sf0.01.
    "x33_ivf_recall" -> ((s, d) =>
      SimilarityOps.ivfRecallCensus(emb(s, d), 10, 40, 12, 29)),
    // Within-doc repetition signals (the Gopher-rule family): duplicate
    // token/trigram masses per language + docs over the dup-token-fraction
    // bar — the quality filter that removes self-repeating boilerplate.
    "x31_repetition" -> ((s, d) =>
      TextOps.repetitionStats(docs(s, d), 0.5)),
    // Cross-doc duplicate-span census: non-overlapping 8-token windows,
    // spans shared by >1 doc = boilerplate repeated across documents.
    "x32_span_dedup" -> ((s, d) =>
      TextOps.duplicateSpans(docs(s, d), 8)),
    // Span dedup APPLIED: every span occurrence except its first
    // (min doc_id, pos) is removed; per-language census of the cut.
    "x35_span_dedup_apply" -> ((s, d) =>
      TextOps.spanDedupCensus(docs(s, d), 8)),
    // The CLEANED corpus from span dedup — documents reassembled from
    // surviving spans + tails; gated via per-language token/char sums of
    // the reassembled text itself (verifying the output, not a census).
    "x37_span_apply_corpus" -> ((s, d) =>
      TextOps.spanDedupApply(docs(s, d), 8)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
        .orderBy(col("lang"))),
    // The CLEANED corpus from near-dup clustering — components keep their
    // min-doc_id representative, losers anti-joined away; per-language
    // survivor census over the surviving documents' own columns.
    "x38_dedup_corpus" -> ((s, d) =>
      DedupOps.dedupCorpus(docs(s, d), 0.8, Int.MaxValue)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))),
    // Best-of-cluster survivor policy: same clusters as x38, but each
    // keeps its longest member (ties → min id) — the census differs from
    // x38 exactly where a cluster's longest copy is not its oldest.
    "x104_dedup_best" -> ((s, d) =>
      DedupOps.dedupCorpusBest(docs(s, d), 0.8, Int.MaxValue)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))),
    // The same cleaned corpus via the exact-duplicate-collapse path
    // (round 9, same oracle): identical survivors — the component
    // labeling is identical and the longest-member window sees the full
    // cluster membership — at distinct-text cost; the form that survives
    // the 100x-replica probe where this uncapped form OOMs.
    "x157_dedup_best_collapsed" -> ((s, d) =>
      DedupOps.dedupCorpusBestCollapsed(docs(s, d), 0.8, Int.MaxValue)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))),
    // The min-id cleaned corpus through the collapse path (x38's oracle),
    // completing the collapsed family: components / min-id / longest.
    "x158_dedup_corpus_collapsed" -> ((s, d) =>
      DedupOps.dedupCorpusCollapsed(docs(s, d), 0.8, Int.MaxValue)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))),
    // Embedding-space decontamination: every 97th vector plays the held-out
    // benchmark; corpus vectors within rounded-cosine 0.4 of any of them
    // are flagged. One exact-integer row (counts + id checksum).
    "x105_semantic_decontam" -> ((s, d) =>
      SimilarityOps.semanticDecontaminate(
        emb(s, d).filter(col("vec_id") % 97 =!= 0),
        emb(s, d).filter(col("vec_id") % 97 === 0), 0.4)),
    // Feature-hashing embedding: the model-free text→vector bridge. Gated
    // by an exact-integer per-bucket census OVER THE DENSE VECTORS
    // (posexplode of the built embeddings, zeros dropped) — the sums pin
    // every vector component, so the construction itself is verified.
    "x43_hash_embed" -> ((s, d) =>
      TextOps.hashEmbed(docs(s, d), 64)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("bucket", "c")))
        .filter(col("c") > 0)
        .groupBy(col("bucket"))
        .agg(sum(col("c").cast("long")).as("total_words"),
          count(lit(1)).as("docs_nonzero"),
          max(col("c").cast("long")).as("max_count"))
        .orderBy(col("bucket"))),
    // Star-gap observability: per-bucket counts of representative-star
    // pairs that FAILED exact verification — the runtime signal that the
    // capped path's documented recall trade-off is being hit (ADVICE r5).
    // cap=2 so the star generator engages on the fixture, like x28.
    "x41_lsh_star_gap" -> ((s, d) =>
      DedupOps.lshStarGapCensus(docs(s, d), 0.8, 2)),
    // Incremental dedup over an append sequence: the corpus split into
    // two deterministic batches; batch-0 internal pairs + the incremental
    // detector's pairs for batch 1 against the batch-0 signature store
    // must union to EXACTLY the full-corpus pair set — so x1's oracle
    // gates the incremental path (both-in-batch-0 and ≥1-in-batch-1 are
    // disjoint and exhaustive; candidate generation and verification are
    // batch-independent).
    "x40_lsh_incremental" -> ((s, d) => {
      val all = docs(s, d)
      val b0 = all.filter(col("doc_id") % 2 === 0)
      val b1 = all.filter(col("doc_id") % 2 =!= 0)
      DedupOps.minhashLsh(b0, 0.8, Int.MaxValue)
        .unionByName(DedupOps.minhashLshIncremental(b1, b0, 0.8, Int.MaxValue))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // Skew-mitigated fact/dim join: events.user_id is deliberately hot
    // (15 users over 1000 events at sf0.001), the salt spreads each hot
    // key over 8 reducers, and the result is row-identical to the plain
    // join — so the plain join IS the oracle. Aggregated to a census so
    // the gated row is small and exactly integer-typed.
    "x29_salted_join" -> ((s, d) =>
      SkewOps.saltedJoin(Tables.read(s, d, "events"),
          Tables.read(s, d, "customer"), "user_id", "c_custkey", 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_nationkey")).cast("long").as("nation_sum"))
        .orderBy(col("event_type"))),
    // Token-budget mixing with an explicit (source, weight) table — the
    // mixture-config-as-data path: a fixed 3-row config, sources outside it
    // surfacing at rate 0, its weight for any absent source eating nothing.
    "x26_token_mix_weighted" -> ((s, d) => {
      import s.implicits._
      CurationOps.tokenBudgetMix(docs(s, d), 10000L,
        Seq(("src0", 4.0), ("src7", 1.0), ("src13", 2.0), ("src_no_such", 9.0))
          .toDF("source", "weight"))
    }),
    // Approx quantiles (GK sketch): like x13, the sketch is gated by a
    // tolerance verdict against the exact percentile (bit-identical to
    // DuckDB quantile_cont on integer inputs), not by its raw value.
    "x22_approx_quantiles" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"))
        .agg(
          percentile(col("n_chars"), lit(0.5)).as("med_exact"),
          percentile(col("n_chars"), lit(0.9)).as("p90_exact"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("med_approx"),
          percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90_approx"))
        .select(col("lang"),
          col("med_exact").as("med_chars"), col("p90_exact").as("p90_chars"),
          (abs(col("med_approx") - col("med_exact")) <= col("med_exact") * 0.05)
            .as("approx_med_within_5pct"),
          (abs(col("p90_approx") - col("p90_exact")) <= col("p90_exact") * 0.05)
            .as("approx_p90_within_5pct"))
        .orderBy(col("lang"))),
    // The distributed rewrite of a5: two-pass prefix sum (per-month partial
    // sums + broadcast offsets), no single-partition window — same oracle.
    "x20_running_total_dist" -> ((s, d) =>
      WindowOps.runningTotal(
          Tables.read(s, d, "lineitem")
            .filter(col("l_suppkey") === 1)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
              floor(col("l_extendedprice") * 100).cast("long").as("cents")),
          bucket = date_trunc("month", col("l_shipdate")),
          orderCols = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
          valueCol = col("cents"),
          resultName = "run_cents")
        .select(col("l_orderkey"), col("l_linenumber"), col("run_cents"),
          col("l_shipdate"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .drop("l_shipdate")),
    // ---- training-data PREP operators (x44-x48, PrepOps) ----
    // Redaction census: the PII defaults (which this synthetic corpus
    // cannot contain — their zero hit counts are part of the gated
    // answer) plus one corpus-active pattern proving the match/replace
    // machinery end-to-end: chars_before vs chars_after pins the real
    // sequential apply.
    "x44_redact" -> ((s, d) =>
      PrepOps.redactCensus(docs(s, d),
        PrepOps.PiiPatterns :+ ("term" -> "sp[a-z]+k"), "<X>")),
    // Gopher/C4-style quality-rule census AND the surviving corpus: the
    // census carries per-rule failure counts plus the kept token mass, so
    // the gate verifies both the audit row and the filter's output.
    "x45_quality_filter" -> ((s, d) =>
      PrepOps.qualityFilterCensus(docs(s, d), 30, 1000)),
    // Deterministic train/val/test split census (md5-bucket mod 100):
    // content-independent, append-stable eval-set assignment.
    "x46_split_assign" -> ((s, d) =>
      PrepOps.splitCensus(docs(s, d), 80, 10)),
    // Token-budget sequence packing (2048-token packs in doc_id order)
    // through the DISTRIBUTED two-pass prefix sum; the oracle is the
    // plain global-window form — bit-identical by WindowOps' guarantee.
    "x47_seq_pack" -> ((s, d) =>
      PrepOps.seqPackCensus(docs(s, d), 2048L)),
    // Concat-and-cut layout economics: the same 2048-token grid, documents
    // SPLIT at window boundaries — per-lang count of split docs.
    "x109_chunk_pack" -> ((s, d) =>
      PrepOps.chunkPackCensus(docs(s, d), 2048L)),
    // Hard per-source token caps in deterministic (md5, id) prefix order —
    // the exact-enforcement sibling of the rate-based x23/x26 mixes.
    "x110_source_cap" -> ((s, d) =>
      PrepOps.sourceCapCensus(docs(s, d), 1000L)),
    // Retrieval-corpus chunk layout: 64-token windows every 48 tokens
    // (16-token overlap) — chunk count/mass/short-tail from closed forms.
    "x111_rag_chunks" -> ((s, d) =>
      PrepOps.ragChunkCensus(docs(s, d), 64, 48)),
    // Boilerplate (template-text) census: spans in >= 3 DISTINCT docs are
    // flagged corpus-wide — the remove-EVERY-occurrence rule, vs x32/x35's
    // keep-one dedup rule.
    "x112_boilerplate" -> ((s, d) =>
      TextOps.boilerplateCensus(docs(s, d), 8, 3)),
    // Boilerplate removal APPLIED: docs reassembled from unflagged spans
    // plus the tail — per-lang cleaned-corpus census (x37's tail shape).
    "x113_boilerplate_apply" -> ((s, d) =>
      TextOps.boilerplateApply(docs(s, d), 8, 3)),
    // Filter-funnel attribution: first-kill per rule in pipeline order +
    // what each rule alone catches — the rule-order/retention decision view.
    "x114_filter_funnel" -> ((s, d) =>
      PrepOps.filterFunnel(docs(s, d), 30)),
    // Embedding-store QA pre-flight: dims, zero/non-finite vectors, and the
    // nano-quantized squared-norm envelope via the codegen'd dot_f32.
    "x115_embedding_sanity" -> ((s, d) =>
      SimilarityOps.embeddingSanityCensus(emb(s, d))),
    // Schema-on-read extraction census over the props JSON column: declared
    // schema, PERMISSIVE nulls, per-type feed-quality + value envelope.
    "x116_props_extract" -> ((s, d) =>
      EventOps.propsExtractCensus(Tables.read(s, d, "events"))),
    // Winsorized robust stats of the value metric (p1/p99 nearest-rank on
    // the value-GROUPED relation, micro-quantized exact sums).
    "x117_winsorize" -> ((s, d) =>
      EventOps.winsorCensus(Tables.read(s, d, "events"), 1, 99)),
    // The bounded-heap top-k operator (graft_top_k_rows aggregate): per-lang
    // top-3 longest docs — the wide-group regime where the heap beats the
    // sort-based window (measurements in TopKPerGroup.topKPerGroup's doc).
    "x118_topk_per_group" -> ((s, d) =>
      graft.plans.TopKPerGroup.topKPerGroup(
        docs(s, d).select(col("lang"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("n_toks")),
        Seq("lang"), Seq(("n_toks", false), ("doc_id", true)), 3)
        .orderBy(col("lang"), col("rn"))),
    // Tokenizer FERTILITY census: subwords-per-word per language under the
    // checked-in merge table — the standard multilingual tokenizer-quality
    // metric (high fertility = longer sequences, worse effective context
    // for that language); the ratio is exact BIGINT floor division at
    // micro resolution, never a double divide.
    "x119_bpe_fertility" -> ((s, d) =>
      BpeOps.fertilityCensus(docs(s, d))),
    // WITHIN-doc duplicate-window removal (the Gopher/C4 intra-doc rule):
    // array_distinct is order-preserving, so the whole apply runs shuffle-
    // free inside the scan projection; gated per-lang on the cleaned corpus.
    // Width 2 so the rule genuinely bites on this corpus (250 within-doc
    // duplicate windows at sf0.01; width 8 never repeats within a doc).
    "x121_intradoc_dedup" -> ((s, d) =>
      TextOps.intraDocSpanDedup(docs(s, d), 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
        .orderBy(col("lang"))),
    // Trailing 7-day per-user activity (a time-RANGE window frame — the
    // engagement-velocity/rate-limit primitive): exact integer census per
    // event type.
    "x122_trailing_window" -> ((s, d) =>
      EventOps.trailingWindowCensus(Tables.read(s, d, "events"), 7)),
    // Robust outlier census: median/MAD per event type (breakdown-point-0.5
    // robust twin of x77's z-score spike test), all order statistics
    // nearest-rank over value-GROUPED relations, the flag pure long
    // arithmetic.
    "x123_mad_outliers" -> ((s, d) =>
      EventOps.madOutlierCensus(Tables.read(s, d, "events"), 3)),
    // Hard-negative mining: per query vector, top-5 most-similar vectors of
    // a DIFFERENT label — corpus streams once against the broadcast query
    // batch, per-query top-k via the x118 bounded-heap operator (few wide
    // groups: its winning regime).
    "x124_hard_negatives" -> ((s, d) =>
      SimilarityOps.hardNegatives(emb(s, d))),
    // Cluster-balanced sampling weights: soft dedup — every near-dup
    // cluster contributes ~unit sampling mass (w = floor(1e6/size) exact
    // fixed point), singletons weight 1.0; per-lang census.
    "x125_cluster_balance" -> ((s, d) =>
      DedupOps.clusterBalanceCensus(docs(s, d), 0.8, Int.MaxValue)),
    // Runtime Bloom-filter join: lineitem prefiltered row-locally by a
    // sketch of the urgent-order key set before the shuffle join —
    // row-identical to the plain join (no false negatives; false positives
    // die in the exact join), gated on the plain-join oracle.
    "x126_bloom_join" -> ((s, d) => {
      val urgent = Tables.read(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      SkewOps.bloomFilteredJoin(
        Tables.read(s, d, "lineitem"), urgent, "l_orderkey", "o_orderkey")
        .groupBy(trunc(col("o_orderdate").cast("timestamp").cast("date"), "month")
          .as("month"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("month"))
    }),
    // STREAMING sessionize, driver-gated: the events relation replayed as 3
    // mod-split micro-batches through the real flatMapGroupsWithState query
    // (MemoryStream + event-time-timeout flush), aggregated to the x11
    // census and gated against x11's ORACLE — stream must equal batch
    // row-for-row.
    "x127_session_stream" -> ((s, d) =>
      streaming.EventStream.sessionCensusReplay(
        Tables.read(s, d, "events"), 30, 3)),
    // Epoch-budget waterfill: equal token shares per source under a
    // max-epochs cap, capped surplus redistributed — closed form over the
    // O(#sources) control relation, corpus touched once.
    "x128_epoch_waterfill" -> ((s, d) =>
      CurationOps.epochWaterfill(docs(s, d), 50000L, 2000L)),
    // One-doc-per-sequence padding economics (the SFT layout): per-lang
    // padded-token waste at seqLen 128 — the counterpart of x109's
    // split-doc census on the same grid family.
    "x129_pad_waste" -> ((s, d) =>
      PrepOps.padWasteCensus(docs(s, d), 128L)),
    // TPC-H Q5 shape (local-supplier volume): 6-relation star join with the
    // customer-nation = supplier-nation correlation, region filter, one-year
    // date band — the classic join-order/broadcast-chain exercise; revenue
    // in exact cents.
    "x130_local_supplier" -> ((s, d) => {
      val orders = Tables.read(s, d, "orders")
        .filter(col("o_orderdate").cast("timestamp") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate").cast("timestamp") < to_timestamp(lit("1997-01-01")))
      Tables.read(s, d, "lineitem")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.read(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Tables.read(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.read(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, d, "region")),
          col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    }),
    // Token-mass Gini per source: the concentration signal behind per-doc
    // caps — rank formula in exact decimals, one integral division.
    "x153_token_gini" -> ((s, d) =>
      CurationOps.tokenGiniCensus(docs(s, d))),
    // Funnel time-to-convert: p50/p90 anchor-to-anchor latency per stage
    // transition (x63's first-touch anchors + the x117 percentile shape).
    "x151_funnel_latency" -> ((s, d) =>
      EventOps.funnelLatencyCensus(Tables.read(s, d, "events"),
        Seq("view", "click", "purchase"))),
    // Duplicate-cluster size histogram: clusters/docs/removable per size,
    // singletons recovered from the corpus count.
    "x152_cluster_sizes" -> ((s, d) =>
      DedupOps.clusterSizeHistogram(docs(s, d), 0.8, Int.MaxValue)),
    // Daily-volume OLS trend per event type: exact integer moments,
    // sign-aware integral division (truncation parity with the oracle).
    "x149_daily_trend" -> ((s, d) =>
      EventOps.dailyTrendCensus(Tables.read(s, d, "events"))),
    // Inter-arrival gap percentiles per event type: lag window per user,
    // then the value-grouped nearest-rank machinery on the gaps.
    "x150_interarrival" -> ((s, d) =>
      EventOps.interArrivalCensus(Tables.read(s, d, "events"))),
    // Code-switching census over a DERIVED bilingual corpus. The fixture's
    // text is English-vocabulary for every declared lang (its de/fr/es
    // stopword evidence is structurally zero — x6 predicts en/und
    // everywhere), so the x58-style derivation appends a German
    // function-word phrase to the de docs under lang 'mix': those rows
    // carry BOTH en evidence (the shared vocabulary) and de evidence (the
    // appended phrase) and must flag, while every original row must NOT —
    // the false-positive side of the detector is the rest of the corpus.
    "x147_lang_mix" -> ((s, d) => {
      val dd = docs(s, d)
      val phrase = " der die das und ist nicht"
      val mixed = dd.filter(col("lang") === "de")
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(phrase)).as("text"),
          lit("mix").as("lang"), col("source"),
          (col("n_chars") + lit(phrase.length.toLong)).as("n_chars"))
      TextOps.langMixCensus(dd.unionByName(mixed), 3L, 500L)
    }),
    // Exact KS drift per event type vs the pooled value distribution:
    // cross-multiplied CDF differences on the pooled grid, no fractions.
    "x148_ks_drift" -> ((s, d) =>
      EventOps.ksDriftCensus(Tables.read(s, d, "events"))),
    // Watermarked tumbling-window aggregation, driver-gated: append-mode
    // daily windows replayed over micro-batches + sentinel flush must
    // equal the batch daily census — the fixed-grid streaming primitive
    // beside x127's data-dependent sessions.
    "x146_window_stream" -> ((s, d) =>
      streaming.EventStream.dailyWindowCensusReplay(
        Tables.read(s, d, "events"), 3)),
    // REAL-transport streaming: file source → watermarked daily windows →
    // exactly-once file sink, STOPPED mid-stream and resumed from the
    // checkpoint (offset log + state store + sink commit log) — must
    // equal the batch daily census; retires the MemoryStream-replay
    // harnesses' "state machine only" caveat.
    "x154_file_stream_recovery" -> ((s, d) =>
      streaming.EventStream.fileStreamRecoveryCensus(
        Tables.read(s, d, "events"), 4, 2)),
    // EXACTLY-ONCE foreachBatch recovery over real transport: the prep
    // ingest sink (redact -> quality -> split -> IdempotentAppend) run
    // from real spooled files with a checkpoint, crashed INSIDE the
    // protocol's unguarded window (files installed, marker not yet
    // written) and restarted per slice group — the drained corpus census
    // must equal the batch pipeline exactly (x44's pattern list, so the
    // redaction machinery is live in the streamed path too).
    "x159_prep_stream_recovery" -> ((s, d) =>
      streaming.CorpusStream.prepStreamRecoveryCensus(
        docs(s, d), 4, 2, 1L,
        PrepOps.PiiPatterns :+ ("term" -> "sp[a-z]+k"), "<X>", 30)),
    // Triangle census over the co-occurrence graph: ordered wedges + a
    // closing-edge semi-join — the two-hop-join graph shape; top corners
    // by local clustering mass.
    "x145_triangles" -> ((s, d) =>
      SearchOps.triangleCensus(docs(s, d), 10)),
    // Benford first-digit audit on order totals: hardcoded public
    // constants, integral shares — forensic data-quality counting.
    "x142_benford" -> ((s, d) =>
      CurationOps.benfordCensus(Tables.read(s, d, "orders"), "o_totalprice")),
    // Chi-square independence of event type × day-of-week: cross-
    // multiplied cell statistic, decimal products, micro scaling.
    "x143_chi2_dow" -> ((s, d) =>
      EventOps.chi2IndependenceCensus(Tables.read(s, d, "events"))),
    // Gram-matrix top-k: most-correlated embedding dimension pairs via a
    // per-vector dimension self-join — distributed dense linear algebra.
    "x144_gram_topk" -> ((s, d) =>
      SimilarityOps.gramTopK(emb(s, d), 10)),
    // Per-label embedding centroid drift: micro-quantized exact-integer
    // dim sums; squared centroid distance with one integral division per
    // dimension — no float mean ever computed.
    "x139_centroid_drift" -> ((s, d) =>
      SimilarityOps.labelCentroidDrift(emb(s, d))),
    // Shipping-lag SLA percentiles per order month: the nearest-rank
    // machinery (x117) applied to a JOIN-derived metric — orders and
    // lineitem meet on the order key, lags group by value per month.
    "x140_ship_lag" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.read(s, d, "orders").select(col("o_orderkey"),
        trunc(col("o_orderdate").cast("timestamp").cast("date"), "month").as("month"),
        col("o_orderdate").cast("timestamp").cast("date").as("odate"))
      val lags = Tables.read(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("timestamp").cast("date").as("sdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("month"), datediff(col("sdate"), col("odate")).cast("long").as("lag"))
      val g = lags.groupBy(col("month"), col("lag")).agg(count(lit(1)).as("cnt"))
      val totals = g.groupBy(col("month")).agg(sum(col("cnt")).as("n"))
      val wCum = Window.partitionBy(col("month")).orderBy(col("lag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      def rankAt(p: Int) = min(when(
        col("cum") >= floor((lit(p.toLong) * col("n") + lit(99L)) / lit(100.0)).cast("long"),
        col("lag")))
      g.withColumn("cum", sum(col("cnt")).over(wCum))
        .join(broadcast(totals), "month")
        .groupBy(col("month"))
        .agg(max(col("n")).as("n"), rankAt(50).as("p50_days"),
          rankAt(90).as("p90_days"), max(col("lag")).as("max_days"))
        .orderBy(col("month"))
    }),
    // Sparse tf-idf retrieval: the query document's whole term vector
    // probes the inverted index; df-capped posting lists; exact integer
    // weights.
    "x141_sparse_topk" -> ((s, d) =>
      SearchOps.sparseTopK(docs(s, d), 0L, 10, 780)),
    // Within-session funnel: x63's first-touch semantics on the
    // (user, session) key — conversion measured at session granularity.
    "x137_session_funnel" -> ((s, d) =>
      EventOps.sessionFunnelCensus(Tables.read(s, d, "events"),
        Seq("view", "click", "purchase"))),
    // First-order Markov transitions within sessions: counts + integral
    // row-normalized probabilities per (cur, next) pair.
    "x138_transitions" -> ((s, d) =>
      EventOps.sessionTransitionCensus(Tables.read(s, d, "events"))),
    // KMV distinct sketch: deterministic order-statistics estimator, gated
    // EXACTLY (no tolerance band — the HLL contrast); the __all row is
    // computed by sketch MERGE, not a second corpus pass.
    "x135_kmv_sketch" -> ((s, d) =>
      EventOps.kmvDistinctCensus(Tables.read(s, d, "events"), 64)),
    // Point-in-interval lookup: events attributed to the completed ledger
    // runs containing their timestamp — hour-bucket banding, exact
    // containment on co-bucketed candidates only.
    "x136_interval_lookup" -> ((s, d) =>
      OverlapOps.intervalLookupCensus(
        Tables.pipelineRuns(s, d), Tables.read(s, d, "events"))),
    // CUSUM drift detection per event type: the sequential recurrence the
    // point-wise detectors can't express, folded with the aggregate HOF
    // over calendar-bounded per-type day arrays — exact longs throughout.
    "x133_cusum_drift" -> ((s, d) =>
      EventOps.cusumCensus(Tables.read(s, d, "events"), 2, 8)),
    // Market-basket lift over user event baskets: pair support via a
    // within-user self-join (constant pairs per user), lift in micro fixed
    // point — one integral division per pair row.
    "x134_event_lift" -> ((s, d) =>
      EventOps.eventLiftCensus(Tables.read(s, d, "events"))),
    // Two-stage retrieval: BM25 shortlist (kRetrieve=20) re-ranked by
    // embedding cosine against vec 0 — the RAG retrieve-then-rerank shape;
    // only the shortlist is ever densely scored.
    "x131_retrieve_rerank" -> ((s, d) =>
      SearchOps.retrieveRerank(docs(s, d), emb(s, d), Bm25Terms, 20, 5, 0L)),
    // TextRank keywords: 10 power-iteration rounds over the adjacent-word
    // co-occurrence graph, micro fixed-point ranks with per-edge floors —
    // the engine's iterative-graph family beyond connected components.
    "x132_textrank" -> ((s, d) =>
      SearchOps.textRankKeywords(docs(s, d), 10, 20)),
    // STREAMING IVF ingest twin: the embedding corpus replayed as 3
    // micro-batches — including a DUPLICATE delivery of batch 1 the marker
    // guard must no-op — appended to a persisted index under a fixed
    // quantizer bootstrap. The top-k query against the STREAMED store is
    // gated on x5's exact oracle: the append contract makes streamed ==
    // batch-built == inline, row-identical, not approximately.
    "x120_ivf_stream" -> ((s, d) => collectedInTempDir(s, "graft_x120") { dir =>
      val e = emb(s, d)
      val path = dir.toString + "/ivf"
      SimilarityOps.writeIvfCentroids(e, path, 40)
      val sink = streaming.CorpusStream.ivfIngestBatch(path) _
      def b(i: Int) = e.filter(col("vec_id") % 3 === i)
      sink(b(0), 0L); sink(b(1), 1L)
      sink(b(1), 1L) // replayed delivery: the marker guard makes it a no-op
      sink(b(2), 2L)
      val qvec = e.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
      SimilarityOps.queryIvfIndexLive(s, path, qvec, 0L, 10, 12)
    }),
    // x47 under SUBWORD (BPE) budgets: the packing census with tokens
    // counted by the checked-in merge table instead of whitespace — the
    // trainer-faithful budget unit. The oracle replays the SAME table via
    // a recursive CTE, so the segmentation cannot drift between engines.
    "x68_bpe_seq_pack" -> ((s, d) => {
      GraftFunctions.register(s)
      PrepOps.seqPackCensus(docs(s, d), 2048L, tokens = BpeOps.tokenCount())
    }),
    // Vocabulary census: top-20 tokens by document frequency — the
    // word-count shape (explode → agg → TakeOrderedAndProject).
    "x48_vocab_topk" -> ((s, d) =>
      PrepOps.vocabTopK(docs(s, d), 20)),
    // x48 in the BPE domain: df/tf of every SUBWORD unit under the
    // checked-in merge table.
    "x71_bpe_vocab" -> ((s, d) =>
      BpeOps.vocabTopK(docs(s, d))),
    // Numericalization: units -> deterministic ids (x71's ranking over the
    // FULL unit set), documents -> id sequences; id_sum is an exact-integer
    // checksum over the whole mapping.
    "x72_bpe_numericalize" -> ((s, d) =>
      BpeOps.numericalizeCensus(docs(s, d))),
    // Tokenizer-coverage audit: the x72 vocabulary capped at 24 ids (the
    // fixture's full subword vocab is 40, so the cap genuinely bites) —
    // occurrences ranked below the cap become UNK; the census pins both
    // the UNK token mass and the docs that stop being round-trippable.
    "x107_unk_coverage" -> ((s, d) =>
      BpeOps.unkCoverageCensus(docs(s, d))),
    // The STREAMING scorecard monitor, driver-gated (the x40 pattern:
    // foreachBatch semantics exercised by direct batch calls): the corpus
    // replayed as a deterministic 3-batch micro-batch sequence through
    // CorpusStream.scorecardBatch — including a DUPLICATE delivery of
    // batch 1, which the marker guard must make a no-op (at-least-once →
    // append-exact) — then the log read back. Gated on the exact-integer
    // columns per (batch_id, source); the oracle computes each batch's
    // scorecard directly from the same doc_id % 3 slices.
    "x102_scorecard_stream" -> ((s, d) => collectedInTempDir(s, "graft_x102") { dir =>
      val all = docs(s, d)
      val log = dir.toString + "/scorecard"
      val sink = streaming.CorpusStream.scorecardBatch(log) _
      def b(i: Int) = all.filter(col("doc_id") % 3 === i)
      sink(b(0), 0L); sink(b(1), 1L)
      sink(b(1), 1L) // replayed delivery: the marker guard makes it a no-op
      sink(b(2), 2L)
      s.read.parquet(log)
        .select(col("batch_id"), col("source"), col("docs"), col("dup_docs"),
          col("kept"), col("tokens"))
        .orderBy(col("batch_id"), col("source"))
    }),
    // The second monitoring twin gated end-to-end (x88's drift vs a static
    // reference, per micro-batch): same replayed-delivery sequence as x102
    // — the marker guard must keep the log append-exact, and each batch's
    // KL is computed against the reference with the BATCH's vocabulary
    // union (cross-batch stateless).
    "x106_drift_stream" -> ((s, d) => collectedInTempDir(s, "graft_x106") { dir =>
      val all = docs(s, d)
      val log = dir.toString + "/drift"
      val sink = streaming.CorpusStream.driftMonitorBatch(newSnapshot(all), log) _
      def b(i: Int) = all.filter(col("doc_id") % 3 === i)
      sink(b(0), 0L); sink(b(1), 1L)
      sink(b(1), 1L) // replayed delivery: the marker guard makes it a no-op
      sink(b(2), 2L)
      s.read.parquet(log)
        .select(col("batch_id"), col("source"), col("n_tokens"),
          col("vocab_terms"), col("novel_terms"), col("kl_micro"), col("kl_nats"))
        .orderBy(col("batch_id"), col("source"))
    }),
    // Trainer-SCALE tokenization: the 8192-merge table (real tokenizers
    // carry 32k-100k merges; 40 proves the algorithm, this proves the
    // vocabulary size) applied through the artifact-FILE transport — the
    // plan carries only a path, each executor loads the table once. The
    // oracle replays the identical 8k table as a map literal through the
    // same recursive CTE as x68/x71/x72.
    "x103_bpe_trainer_scale" -> ((s, d) => {
      GraftFunctions.register(s)
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          BpeOps.tokenCountFile(BpeOps.bigMergesPath).as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("subword_tokens"))
        .orderBy(col("lang"))
    }),
    // PRODUCTION-size tokenization: x103's census under the 32,768-merge
    // table (the vocabulary range real tokenizers ship). Same artifact-
    // file transport; the bench pair (x103, x155) is the measured proof
    // that segmentation cost is flat in table size.
    "x155_bpe_32k" -> ((s, d) => {
      GraftFunctions.register(s)
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          BpeOps.tokenCountFile(BpeOps.bigMerges32kPath).as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("subword_tokens"))
        .orderBy(col("lang"))
    }),
    // Split-leakage audit: train-split contamination against the held-out
    // test split — splitAssign composed with the generalized two-table
    // decontamination (the eval-leak check a real pipeline runs per append).
    "x49_split_leakage" -> ((s, d) =>
      PrepOps.splitLeakage(docs(s, d), 80, 10, 5)),
    // Temperature mixing (tokens^0.5, integer-rounded weights): the
    // standard multilingual/multi-source rebalance, same census contract
    // as x23.
    "x50_mix_temperature" -> ((s, d) =>
      CurationOps.tokenBudgetMixTemperature(docs(s, d), 10000L, 0.5)),
    // Content-defined chunking census: rolling-hash cut points (md5 of the
    // trailing 3-gram % 8 == 0) — the shift-robust twin of the x32 span
    // grid; an early insertion re-synchronizes instead of re-aligning
    // every later window.
    "x54_cdc_chunks" -> ((s, d) =>
      TextOps.cdcChunkCensus(docs(s, d), 8)),
    // CDC dedup APPLIED: the cleaned corpus with non-first chunk
    // occurrences removed — x37's contract, shift-robust boundaries.
    "x55_cdc_apply_corpus" -> ((s, d) =>
      TextOps.cdcDedupApply(docs(s, d), 8)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("kept_tokens"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
        .orderBy(col("lang"))),
    // Deterministic stratified sample: exactly 40 docs per language by
    // (md5, doc_id) order — fixed-size per-stratum probes, RNG-free.
    "x53_stratified_sample" -> ((s, d) =>
      PrepOps.stratifiedSampleCensus(docs(s, d), 40)),
    // Asymmetric containment near-dup (quotes/excerpts/subset docs):
    // directed pairs with |A∩B|/|A| >= 0.9, prefix-filtered on the
    // contained side, exact-verified — the oracle runs the naive
    // all-pairs form.
    "x52_containment" -> ((s, d) =>
      DedupOps.ngramContainment(docs(s, d), 0.9)),
    // Decontamination APPLIED: the cleaned corpus (x21's benchmark split),
    // gated via per-language doc/token/char sums over the survivors.
    "x51_decontaminate_apply" -> ((s, d) => {
      val all = docs(s, d)
      CurationOps.decontaminateApply(
          all.filter(col("doc_id") % 97 =!= 0), all.filter(col("doc_id") % 97 === 0), 5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(lower(col("text")), " ")).cast("long")).as("tokens"),
          sum(length(col("text")).cast("long")).as("chars"))
        .orderBy(col("lang"))
    }),
    // ---- retrieval, sketches, versioning (round 6) ----
    // BM25 keyword retrieval (rational idf — see SearchOps for why no ln):
    // per-row tf expressions, one single-row stats broadcast, top-k sort;
    // 'dup' is the high-idf rare term, the others are corpus-common.
    "x56_bm25_topk" -> ((s, d) =>
      SearchOps.bm25TopK(docs(s, d), Bm25Terms, 10)),
    // SemDeDup-style semantic dedup APPLIED over the embedding corpus:
    // capped connectivity-preserving pairs (exact-duplicate collapse +
    // clique<=cap ∪ star>cap per paired cell) -> transitive components ->
    // keep min vec_id; gated via a per-label survivor census (the all-pairs
    // oracle is centroid-independent: the capped generator provably closes
    // into the same components — see semanticDedupPairs).
    "x57_semdedup_corpus" -> ((s, d) =>
      SimilarityOps.semanticDedupCorpus(emb(s, d), 0.4, 100)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("vecs"), sum(col("vec_id")).as("id_sum"))
        .orderBy(col("label"))),
    // Snapshot diff census between the corpus and a derived v2 snapshot
    // (every doc_id%11==0 removed, %13 changed, %17 re-added under a new
    // id) — the data-versioning audit, one fingerprint full-outer join.
    "x58_corpus_diff" -> ((s, d) =>
      SnapshotOps.corpusDiff(docs(s, d), newSnapshot(docs(s, d)))),
    // Misra-Gries heavy-hitter sketch (k=8 over a 31-token vocabulary, so
    // eviction churns constantly) gated on its order-independent
    // guarantee verdict + exact corpus totals.
    "x59_heavy_tokens" -> ((s, d) =>
      SearchOps.heavyHittersVerdict(docs(s, d), 8)),
    // Rare-token density census: exact per-doc mean token document
    // frequency; 385 sits just under the corpus-common df plateau (~390),
    // so rare_docs counts docs leaning on the rare tail.
    "x60_rare_tokens" -> ((s, d) =>
      SearchOps.rareTokenCensus(docs(s, d), 385L)),
    // The incremental re-process set (new + content-changed docs of the
    // v2 snapshot), gated via the per-language census idiom of x51.
    "x61_delta_reprocess" -> ((s, d) =>
      SnapshotOps.snapshotDelta(docs(s, d), newSnapshot(docs(s, d)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(lower(col("text")), " ")).cast("long")).as("tokens"),
          sum(length(col("text")).cast("long")).as("chars"))
        .orderBy(col("lang"))),
    // Query-by-document similarity search: doc 8 has a confirmed near-dup
    // at sf0.01, so the top of the ranking is a real match, not noise.
    "x62_similar_docs" -> ((s, d) =>
      DedupOps.similarDocs(docs(s, d), 8L, 10)),
    // Ordered conversion funnel with first-touch anchors — each stage one
    // user-keyed join + min aggregation, census rows unioned.
    "x63_event_funnel" -> ((s, d) =>
      EventOps.funnelCensus(Tables.read(s, d, "events"),
        Seq("view", "click", "purchase"))),
    // Retention cohorts: users keyed by first-active day, counted on each
    // later active day (offset 0 = cohort size) — two user-keyed hash
    // aggregations + one equi-join, nothing windowed.
    "x75_retention_cohorts" -> ((s, d) =>
      EventOps.retentionCohorts(Tables.read(s, d, "events"), 30)),
    // Integer-exact spike detection: z >= 2 via cross-multiplied moments —
    // no double ever enters the flag decision.
    "x77_spike_census" -> ((s, d) =>
      EventOps.spikeCensus(Tables.read(s, d, "events"), 2)),
    // Power-of-two token-length histogram via bin()-digit buckets (never
    // log2 — float ulp under an exact power flips a bucket cross-engine).
    "x74_length_histogram" -> ((s, d) =>
      TextOps.lengthHistogram(docs(s, d))),
    // Bigram-LM perplexity proxy (CCNet-style): corpus-trained add-one
    // model, per-doc avg NLL scored as an exact integer sum of fixed-point
    // micro-nat weights (one ln per DISTINCT bigram, quantized at 1e-6).
    "x79_bigram_lm" -> ((s, d) =>
      TextOps.bigramLmScore(docs(s, d))),
    // Shingle novelty: fraction of a doc's distinct 3-gram shingles first
    // seen in this doc — the dedup-aware sampling weight.
    "x80_novelty" -> ((s, d) =>
      TextOps.noveltyCensus(docs(s, d))),
    // Naive Bayes quality classifier: trained from the x45 rule conjunction
    // as weak labels (two aggregations, no solver), applied as an exact
    // integer LLR sum over fixed-point per-token weights.
    "x81_nb_quality" -> ((s, d) =>
      PrepOps.nbQualityScore(docs(s, d))),
    // Source distribution drift: per-source KL from the corpus token
    // distribution — the per-ingest-batch content-mix monitor.
    "x82_source_drift" -> ((s, d) =>
      CurationOps.sourceDriftKl(docs(s, d))),
    // Classifier-vs-rules confusion matrix with accuracy and Cohen's
    // kappa — the x81 model's agreement census, exact-integer throughout.
    "x89_nb_confusion" -> ((s, d) =>
      PrepOps.nbConfusionCensus(docs(s, d))),
    // Exact Mann-Whitney AUC of the x81 score (midrank ties) via the
    // two-pass distributed prefix count — no per-row ranking.
    "x90_nb_auc" -> ((s, d) =>
      PrepOps.nbRankAuc(docs(s, d))),
    // Score-decile calibration ramp: exact NTILE(10) via the shared
    // distributed-rank machinery, positive rate per decile.
    "x91_nb_calibration" -> ((s, d) =>
      PrepOps.nbCalibrationDeciles(docs(s, d))),
    // Brier score of the x81 probabilities (logistic of the integer LLR),
    // per true class — the proper scoring rule over the same scored corpus.
    "x93_nb_brier" -> ((s, d) =>
      PrepOps.nbBrierScore(docs(s, d))),
    // Blocked Levenshtein fuzzy-match census over document heads: pairs
    // histogram by edit distance — the typo/OCR-noise detector shingle
    // Jaccard can't express.
    "x92_fuzzy_pairs" -> ((s, d) =>
      DedupOps.fuzzyPairsCensus(docs(s, d))),
    // Heaps-law vocabulary-growth curve at power-of-two doc-count
    // checkpoints: first-occurrence aggregation, one scan, no re-counting.
    "x94_vocab_growth" -> ((s, d) =>
      TextOps.vocabGrowth(docs(s, d))),
    // Jaro-Winkler fuzzy census via the custom codegen expression —
    // integer-micro histogram, same blocking as x92.
    "x95_jaro_pairs" -> ((s, d) =>
      DedupOps.jaroPairsCensus(docs(s, d))),
    // Expected calibration error: the x91 ramp folded to one number with an
    // exact integer numerator (micro-space identity), MCE alongside.
    "x96_nb_ece" -> ((s, d) =>
      PrepOps.nbEceCensus(docs(s, d))),
    // Zipf rank-frequency OLS slope over the top-1000 tokens: exact decimal
    // moments of once-quantized logs, two divisions total.
    "x97_zipf_slope" -> ((s, d) =>
      SearchOps.zipfSlope(docs(s, d))),
    // Per-source scorecard: volume, within-source exact-dup rate, quality
    // keep rate, token mass — one source-keyed aggregation, no joins.
    "x98_source_scorecard" -> ((s, d) =>
      PrepOps.sourceScorecard(docs(s, d))),
    // Per-doc unigram Shannon entropy: exact integer numerator over
    // once-quantized logs, one division — the information-density signal.
    "x99_token_entropy" -> ((s, d) =>
      TextOps.tokenEntropy(docs(s, d))),
    // Per-class precision/recall/F1 + macro-F1 from the x89 confusion
    // counts — each metric one division of exact integers.
    "x100_nb_prf" -> ((s, d) =>
      PrepOps.nbPrfCensus(docs(s, d))),
    // Token burstiness top-k: variance-to-mean of per-doc counts (zeros
    // included) from exact decimal moments — topical vs function words.
    "x101_burstiness" -> ((s, d) =>
      SearchOps.burstiness(docs(s, d))),
    // DSIR-style importance weights: per-doc unigram log-ratio between a
    // target source's model and the corpus model — selection by
    // resemblance to a curated domain, not by rules.
    "x83_dsir_weights" -> ((s, d) =>
      CurationOps.dsirImportanceWeights(docs(s, d))),
    // CCNet perplexity terciles applied corpus-wide: exact NTILE(3)
    // semantics via the two-pass distributed rank (no global window).
    "x84_ppl_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(docs(s, d))),
    // tf-idf top-3 keywords per document (quantized idf, exact integer
    // scores, term-tie-broken rank).
    "x85_tfidf_keywords" -> ((s, d) =>
      SearchOps.tfidfKeywords(docs(s, d))),
    // PMI collocations: top-20 adjacent pairs by quantized pointwise
    // mutual information — phrase-mining / tokenizer merge candidates.
    "x86_pmi_collocations" -> ((s, d) =>
      TextOps.pmiCollocations(docs(s, d))),
    // Novelty-weighted sampling: keep docs with probability = shingle
    // novelty via the exact integer id-hash coin — soft dedup.
    "x87_novelty_sample" -> ((s, d) =>
      CurationOps.noveltyWeightedSample(docs(s, d))),
    // Drift vs the REFERENCE snapshot (x58's derived v2): per-source KL
    // against yesterday's distribution + the new-vocabulary alarm.
    "x88_drift_vs_ref" -> ((s, d) =>
      CurationOps.sourceDriftKlVsReference(docs(s, d), newSnapshot(docs(s, d)))),
    // Cross-source duplication matrix: distinct shared shingles per source
    // pair beside each side's shingle mass.
    "x78_source_overlap" -> ((s, d) =>
      CurationOps.sourceOverlapMatrix(docs(s, d))),
    // CUBE over (split, lang) with '(all)' markers — grouping-sets
    // coverage beyond a6's ROLLUP, composed with the x46 split.
    "x64_cube_census" -> ((s, d) =>
      PrepOps.cubeCensus(docs(s, d), 80, 10)),
    // Bloom-prefiltered decontamination: the large-benchmark path — the
    // benchmark rides as a fixed-size sketch, a codegen'd prefilter thins
    // the corpus shingles at the scan, the exact string confirm join makes
    // the census hash-identical to the broadcast path (same oracle as x21).
    "x65_decontaminate_bloom" -> ((s, d) =>
      CurationOps.decontaminateBloom(docs(s, d), 97, 5, 0.03)),
    // PIVOT: sources as rows, pinned language domain as columns — the one
    // relational reshape x64's CUBE doesn't cover.
    "x66_lang_pivot" -> ((s, d) =>
      PrepOps.langPivotCensus(docs(s, d))),
    // Order-invariant corpus checksum: per-lang XOR-fold of the 60-bit
    // row hash — the migration-equality audit (one scan, map-side XORs).
    "x67_corpus_checksum" -> ((s, d) =>
      SnapshotOps.corpusChecksum(docs(s, d)))
  )

  /** x56's query terms — interpolated into BOTH the Spark query and the
    * DuckDB oracle. 'dup' is rare (df≈25/500 at sf0.01), the rest common. */
  private val Bm25Terms: Seq[String] = Seq("spark", "dup", "vector", "the")

  /** x58/x61's derived second snapshot: doc_id%11==0 dropped, %13 content-
    * changed, %17 re-added under doc_id+1000000 — same derivation in the
    * oracle SQL so both sides diff identical snapshots. */
  private def newSnapshot(old: DataFrame): DataFrame = {
    val carried = old.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val added = old.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        concat(lit("new doc "), col("doc_id").cast("string")).as("text"))
    carried.unionByName(added)
  }

  // ---------------------------------------------------------------- oracle

  private val cte = Tables.pipelineRunsCte

  /** x44's pattern list: the PII defaults + one corpus-active demo term —
    * interpolated into BOTH the Spark query and the DuckDB oracle. */
  private val redactREs: Seq[String] =
    (PrepOps.PiiPatterns :+ ("term" -> "sp[a-z]+k")).map(_._2)
  private val redactHitsSql: String =
    redactREs.map(re => s"len(regexp_extract_all(text, '$re'))").mkString(" + ")
  private val redactApplySql: String =
    redactREs.foldLeft("text")((acc, re) => s"regexp_replace($acc, '$re', '<X>', 'g')")

  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB SQL fragment counting stopword hits for a language list. */
  private def hitsSql(lang: String): String =
    s"len(list_filter(w, x -> list_contains(${sqlList(TextOps.stop(lang))}, x)))"

  private val simhashSums: String =
    (0 until 32).map(j => s"SUM((bits >> $j) & 1) AS s$j").mkString(", ")
  private val simhashFp: String =
    (0 until 32).map(j => s"(CASE WHEN 2*s$j > n THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** x1's pair derivation + a recursive min-label walk: the minimum of a
    * component reaches every member (each hop away from the min satisfies
    * the lbl < v guard), so MIN(lbl) per node is the component id. Shared
    * by x34 (label propagation) and x156 (exact-duplicate collapse) — two
    * component paths, one output contract — and by the dedup oracles. */
  private val componentsWalkCte: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM docs),
      |vs AS (
      |  SELECT doc_id, list_transform(sh,
      |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
      |  FROM vs),
      |banded AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4),
      |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
      |  FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |      len(list_intersect(sa.sh, sb.sh))::DOUBLE
      |        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      |    FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b)
      |  WHERE jac >= 0.8),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |walk(u, lbl) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON w.u = e.u WHERE w.lbl < e.v)""".stripMargin

  /** x11's gap-sessionization census — shared verbatim by the batch gate
    * (x11) and the streaming-replay gate (x127): stream must equal batch. */
  private val sessionizeOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, SUM(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e),
      |g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS sessions, MAX(n) AS max_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  private val componentsOracleSql: String = componentsWalkCte +
    """
      |SELECT u AS doc_id, MIN(lbl) AS component FROM walk
      |GROUP BY u ORDER BY doc_id""".stripMargin

  /** x38: the walk's losers (component min ≠ self) anti-joined from the
    * corpus — the oracle of the cleaned-corpus operator. */
  private val dedupCorpusOracleSql: String = componentsWalkCte +
    """
      |, losers AS (SELECT u AS doc_id FROM walk GROUP BY u HAVING MIN(lbl) <> u)
      |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** x104: the walk's components re-ranked by member length — the cluster
    * keeps its longest doc (ties → min id); everyone else is a loser. */
  private val dedupBestOracleSql: String = componentsWalkCte +
    """
      |, comp AS (SELECT u AS doc_id, MIN(lbl) AS comp FROM walk GROUP BY u),
      |scored AS (
      |  SELECT c.comp, c.doc_id, len(string_split(lower(d.text), ' ')) AS nw
      |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
      |keep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (
      |      PARTITION BY comp ORDER BY nw DESC, doc_id ASC) AS rn
      |    FROM scored) WHERE rn = 1),
      |losers AS (
      |  SELECT doc_id FROM comp WHERE doc_id NOT IN (SELECT doc_id FROM keep))
      |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** x19/x42: the curation funnel's stage CTEs (quality gate → exact-dedup
    * keeper window → exact near-dup losers → survivor sample) — the x19
    * census and the x42 cleaned-corpus survivor census share them. */
  private val funnelCte: String =
    """WITH q AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 30),
      |ex AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keeper
      |    FROM q) WHERE doc_id = keeper),
      |docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM ex),
      |shl AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM docs),
      |sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM inter
      |  JOIN sizes sa ON sa.doc_id = inter.doc_a
      |  JOIN sizes sb ON sb.doc_id = inter.doc_b
      |  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
      |nd AS (SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
      |samp AS (
      |  SELECT doc_id FROM nd
      |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::BIGINT < 13)""".stripMargin

  /** x68/x71: the BPE merge table as a DuckDB MAP literal — interpolated
    * from the SAME checked-in resource the engine expression loads, so the
    * two sides replay one artifact. */
  private def bpeMapLiteralFor(ms: Seq[(String, String)]): String = {
    val keys = ms.map { case (a, b) =>
      "'" + (a + " " + b).replace("'", "''") + "'"
    }.mkString(", ")
    val vals = ms.indices.map(_ + 1).mkString(", ")
    s"MAP([$keys], [$vals])"
  }

  private def bpeMapLiteral: String = bpeMapLiteralFor(BpeOps.defaultMerges)

  /** The greedy BPE application as a recursive CTE: per distinct word of
    * `source`, repeatedly merge the LEFTMOST occurrence of the
    * minimum-rank adjacent pair (rk sentinel 2147483647 = not in table)
    * until no pair applies; the fixpoint row is the one with the fewest
    * symbols (lengths strictly decrease per step). Mirrors
    * graft.functions.BpeSegment exactly. Body only — the caller supplies
    * the `WITH RECURSIVE` intro so it can compose with other CTEs. */
  private def bpeCteBody(source: String, mapLiteral: String = bpeMapLiteral): String =
    s"""mt AS (SELECT $mapLiteral AS mm),
       |wds AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS word FROM $source),
       |bpe(word, syms) AS (
       |  SELECT word, string_split(word, '') FROM wds
       |  UNION ALL
       |  SELECT word, list_concat(list_concat(list_slice(syms, 1, idx-1),
       |      [syms[idx] || syms[idx+1]]), list_slice(syms, idx+2, len(syms)))
       |  FROM (
       |    SELECT word, syms, list_min(rk) AS best, list_position(rk, list_min(rk)) AS idx
       |    FROM (
       |      SELECT word, syms,
       |        list_transform(range(1, len(syms)),
       |          i -> coalesce(mm[syms[i] || ' ' || syms[i+1]][1], 2147483647)) AS rk
       |      FROM bpe, mt))
       |  WHERE best < 2147483647)""".stripMargin

  private def bpeCte: String = "WITH RECURSIVE\n" + bpeCteBody("documents")

  /** x69/x76: the production pipeline's stage CTEs (corpus/benchmark split →
    * x42 funnel → x51 decontamination → x55 CDC dedup), ending at `kept`
    * (doc_id → reassembled text). The RECURSIVE marker is for x76's BPE
    * stage; it is inert for x69. */
  private val productionStagesCte: String =
    """WITH RECURSIVE
      |corpus AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 != 0),
      |bench AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
      |q AS (
      |  SELECT doc_id, text FROM corpus
      |  WHERE len(string_split(lower(text), ' ')) >= 30),
      |ex AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keeper
      |    FROM q) WHERE doc_id = keeper),
      |fdocs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM ex),
      |fshl AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM fdocs),
      |fsh AS (SELECT doc_id, unnest(sh) AS s FROM fshl),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM fsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM fsh a JOIN fsh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM inter
      |  JOIN sizes sa ON sa.doc_id = inter.doc_a
      |  JOIN sizes sb ON sb.doc_id = inter.doc_b
      |  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
      |nd AS (SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
      |samp AS (
      |  SELECT doc_id FROM nd
      |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::BIGINT < 13),
      |curw AS (
      |  SELECT c.doc_id, c.lang, c.text, string_split(lower(c.text), ' ') AS w
      |  FROM corpus c JOIN samp ON c.doc_id = samp.doc_id),
      |curshl AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM curw),
      |cursh AS (SELECT doc_id, unnest(sh) AS s FROM curshl),
      |bw AS (SELECT string_split(lower(text), ' ') AS w FROM bench),
      |bshl AS (
      |  SELECT list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM bw),
      |bsh AS (SELECT DISTINCT unnest(sh) AS s FROM bshl),
      |ov AS (SELECT cursh.doc_id, COUNT(*) AS shared FROM cursh JOIN bsh USING (s) GROUP BY 1),
      |decon AS (
      |  SELECT curw.doc_id, curw.lang, curw.text FROM curw
      |  LEFT JOIN ov ON curw.doc_id = ov.doc_id
      |  WHERE COALESCE(ov.shared, 0) < 5),
      |d2 AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM decon),
      |b2 AS (
      |  SELECT doc_id, lang, w, len(w) AS n,
      |    CASE WHEN len(w) >= 3 THEN list_filter(range(3, len(w)+1),
      |      p -> ('0x' || substr(md5(array_to_string(list_slice(w, p-2, p), ' ')), 1, 8))::BIGINT % 8 = 0)
      |    ELSE [] END AS bp
      |  FROM d2),
      |e2 AS (
      |  SELECT doc_id, lang, w, list_concat(list_concat([0::BIGINT], bp),
      |    CASE WHEN len(bp) > 0 AND bp[-1] = n THEN [] ELSE [n] END) AS ed
      |  FROM b2),
      |c2 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ed)), i ->
      |    struct_pack(pos := i,
      |      chunk := array_to_string(list_slice(w, ed[i]+1, ed[i+1]), ' ')))) AS u
      |  FROM e2),
      |k2 AS (
      |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk, row_number() OVER (
      |    PARTITION BY u.chunk ORDER BY doc_id, u.pos) AS rn
      |  FROM c2),
      |kept AS (
      |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS kept_text
      |  FROM k2 WHERE rn = 1 GROUP BY doc_id)""".stripMargin

  /** x1/x40: the full-corpus LSH pipeline — also the oracle of the
    * incremental batch-split union, which reproduces the same relation. */
  private val minhashLshOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
      |    ELSE [array_to_string(w, ' ')] END) AS sh
      |  FROM docs),
      |vs AS (
      |  SELECT doc_id, list_transform(sh,
      |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, list_transform(range(0, 16),
      |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
      |  FROM vs),
      |banded AS (
      |  SELECT doc_id, unnest(list_transform(range(0, 4),
      |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
      |  FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    len(list_intersect(sa.sh, sb.sh))::DOUBLE
      |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
      |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b)
      |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j
      |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** x4/x39: the all-pairs form IS the oracle for every centroid choice —
    * the bucketed join's exactness is centroid-independent. */
  private val embedNearDupOracleSql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_cosine_similarity(a.embedding, b.embedding), 6) AS sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "r1_overlap_input" -> s"""$cte
      |SELECT * FROM pipeline_runs
      |WHERE query_window_start_day <= DATE '2024-01-16'
      |  AND query_window_end_day   >= DATE '2024-01-15'
      |  AND pipeline_name = '$P' AND index_name = '$I'
      |  AND query_window_start_ts < TIMESTAMP '$WEnd'
      |  AND query_window_end_ts   > TIMESTAMP '$WStart'
      |ORDER BY record_id""".stripMargin,
    "r2_count_by_status" -> s"""$cte
      |SELECT COUNT(*) AS row_count FROM pipeline_runs WHERE pipeline_status = 'completed'""".stripMargin,
    "r3_oldest_by_status" -> s"""$cte
      |SELECT * FROM pipeline_runs WHERE pipeline_status = 'pending'
      |ORDER BY query_window_start_ts ASC, record_id ASC LIMIT 1""".stripMargin,
    "r4_latest_by_status" -> s"""$cte
      |SELECT * FROM pipeline_runs WHERE pipeline_status = 'pending'
      |ORDER BY query_window_start_ts DESC, record_id ASC LIMIT 1""".stripMargin,
    "r5_discontinuities" -> s"""$cte
      |, ordered_windows AS (
      |  SELECT query_window_start_ts, query_window_end_ts,
      |         LAG(query_window_end_ts) OVER (ORDER BY query_window_start_ts, record_id) AS prev_end_ts
      |  FROM pipeline_runs
      |  WHERE CAST(query_window_start_ts AS DATE) = DATE '$Day'
      |    AND pipeline_name = '$P' AND index_name = '$I')
      |SELECT prev_end_ts AS missing_query_window_start_ts,
      |       query_window_start_ts AS missing_query_window_end_ts
      |FROM ordered_windows
      |WHERE prev_end_ts IS NOT NULL AND query_window_start_ts != prev_end_ts
      |ORDER BY 1, 2""".stripMargin,
    "r6_overlap_self_join" -> s"""$cte
      |, filtered_day_data AS (
      |  SELECT * FROM pipeline_runs
      |  WHERE pipeline_name = '$P' AND index_name = '$I'
      |    AND query_window_start_ts < DATE '$Day' + INTERVAL 1 DAY
      |    AND query_window_end_ts   > TIMESTAMP '$WStart')
      |SELECT t1.query_window_start_ts AS source_window_start_ts,
      |       t1.query_window_end_ts   AS source_window_end_ts,
      |       t2.query_window_start_ts AS overlaps_with_start_ts,
      |       t2.query_window_end_ts   AS overlaps_with_end_ts
      |FROM filtered_day_data t1 INNER JOIN filtered_day_data t2
      |  ON  t1.query_window_start_ts <  t2.query_window_end_ts
      |  AND t1.query_window_end_ts   >  t2.query_window_start_ts
      |  AND t1.query_window_start_ts != t2.query_window_start_ts
      |ORDER BY 1, 2, 3, 4""".stripMargin,
    "r7_scalar_max" -> s"""$cte
      |SELECT MAX(query_window_end_ts) AS max_end_ts FROM pipeline_runs
      |WHERE pipeline_name = '$P'""".stripMargin,
    "e1_dedup_exact" ->
      """SELECT COUNT(*) AS total, COUNT(DISTINCT md5(lower(trim(text)))) AS distinct_norm
        |FROM documents""".stripMargin,
    "e2_topk_cosine" ->
      """SELECT e2.vec_id, round(list_cosine_similarity(e1.embedding, e2.embedding), 6) AS sim
        |FROM embeddings e1 CROSS JOIN embeddings e2
        |WHERE e1.vec_id = 0 AND e2.vec_id != 0
        |ORDER BY sim DESC, e2.vec_id ASC LIMIT 10""".stripMargin,
    // The quantization replay: f32 max-abs scale, double-domain
    // floor(x/s*127 + 0.5) codes (floor+0.5, NOT round() — half-way rules
    // differ between engines), double dequant cast to FLOAT, then the same
    // f32 cosine as e2.
    "x73_quantized_topk" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS sc
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, sc,
        |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0::BIGINT)
        |    ELSE list_transform(embedding,
        |      x -> floor(x::DOUBLE / sc::DOUBLE * 127 + 0.5)::BIGINT) END AS q
        |  FROM s),
        |dq AS (
        |  SELECT vec_id,
        |    list_transform(q, b -> (b::DOUBLE * (sc::DOUBLE / 127))::FLOAT) AS emb
        |  FROM qq)
        |SELECT d2.vec_id, round(list_cosine_similarity(d1.emb, d2.emb), 6) AS sim
        |FROM dq d1 CROSS JOIN dq d2
        |WHERE d1.vec_id = 0 AND d2.vec_id != 0
        |ORDER BY sim DESC, d2.vec_id ASC LIMIT 10""".stripMargin,
    "e3_text_stats" ->
      """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |       round(AVG(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e4_multimodal_join" ->
      """SELECT d.lang, e.label, COUNT(*) AS n
        |FROM documents d INNER JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY d.lang, e.label ORDER BY d.lang, e.label""".stripMargin,
    "x1_minhash_lsh" -> minhashLshOracleSql,
    // batch-split union == full recompute — see the x40 query comment
    "x40_lsh_incremental" -> minhashLshOracleSql,
    "x2_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT doc_a, doc_b,
        |    n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jac
        |  FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_a
        |             JOIN sizes sb ON sb.doc_id = inter.doc_b)
        |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j
        |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "x3_simhash" -> s"""WITH wb AS (
        |  SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS bits
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)),
        |ag AS (SELECT doc_id, COUNT(*) AS n, $simhashSums FROM wb GROUP BY doc_id),
        |fps AS (SELECT doc_id, ($simhashFp) AS fp FROM ag),
        |bd AS (
        |  SELECT doc_id, fp, unnest(list_transform(range(0, 4),
        |    k -> k::VARCHAR || ':' || (((fp >> (8*k)) & 255)::VARCHAR))) AS block
        |  FROM fps),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fp_a, b.fp AS fp_b
        |  FROM bd a JOIN bd b ON a.block = b.block AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming FROM cand
        |WHERE bit_count(xor(fp_a, fp_b)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "x4_embed_neardup" -> embedNearDupOracleSql,
    // same relation by the exactness guarantee — see the x39 query comment
    "x39_neardup_trained" -> embedNearDupOracleSql,
    "x5_ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  WHERE vec_id % 40 = 0 AND vec_id < 520),
        |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |asg AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (
        |  SELECT cid FROM cents, q
        |  ORDER BY list_cosine_similarity(qvec, cvec) DESC, cid ASC LIMIT 12)
        |SELECT a.vec_id, round(list_cosine_similarity(q.qvec, a.embedding), 6) AS sim
        |FROM asg a JOIN probes p ON a.cid = p.cid, q
        |WHERE a.vec_id != 0
        |ORDER BY sim DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    "x6_langid" -> s"""WITH d AS (
        |  SELECT lang, string_split(lower(text), ' ') AS w FROM documents),
        |h AS (
        |  SELECT lang, ${hitsSql("en")} AS h_en, ${hitsSql("de")} AS h_de,
        |         ${hitsSql("fr")} AS h_fr, ${hitsSql("es")} AS h_es
        |  FROM d),
        |p AS (
        |  SELECT lang, CASE
        |    WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
        |    WHEN h_de > 0 AND h_de >= h_fr AND h_de >= h_es THEN 'de'
        |    WHEN h_fr > 0 AND h_fr >= h_es THEN 'fr'
        |    WHEN h_es > 0 THEN 'es'
        |    ELSE 'und' END AS predicted
        |  FROM h)
        |SELECT lang, predicted, COUNT(*) AS n FROM p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "x7_quality" -> s"""WITH d AS (
        |  SELECT lang, n_chars, string_split(lower(text), ' ') AS w FROM documents),
        |m AS (
        |  SELECT lang, n_chars, len(w) AS n_words, len(list_distinct(w)) AS n_uniq,
        |         ${hitsSql("en")} AS n_stop
        |  FROM d)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_words) AS BIGINT) AS sum_words,
        |       round(SUM(n_stop)::DOUBLE / SUM(n_words), 6) AS stop_ratio,
        |       round(SUM(n_uniq)::DOUBLE / SUM(n_words), 6) AS ttr,
        |       round(SUM(n_chars)::DOUBLE / COUNT(*), 4) AS avg_chars
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "x8_tokens" ->
      """WITH t AS (
        |  SELECT lang, len(string_split(text, ' ')) AS ws_tokens,
        |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS re_tokens
        |  FROM documents)
        |SELECT lang, CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens,
        |       CAST(SUM(re_tokens) AS BIGINT) AS sum_re_tokens,
        |       round(SUM(re_tokens)::DOUBLE / SUM(ws_tokens), 6) AS tokens_per_word
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "x9_fingerprint" ->
      """WITH d AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
        |f AS (
        |  SELECT CASE WHEN len(w) >= 5
        |    THEN list_min(list_transform(range(1, len(w)-3),
        |           i -> md5(array_to_string(list_slice(w, i, i+4), ' '))))
        |    ELSE md5(array_to_string(w, ' ')) END AS fp
        |  FROM d),
        |g AS (SELECT fp, COUNT(*) AS cluster FROM f GROUP BY fp)
        |SELECT CAST(SUM(cluster) AS BIGINT) AS total_docs, COUNT(*) AS distinct_fp,
        |       MAX(cluster) AS max_cluster
        |FROM g""".stripMargin,
    "x10_multimodal_meta" ->
      """SELECT source, COUNT(*) AS n_assets, CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |       COUNT(DISTINCT md5(text)) AS distinct_payloads
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Closed-form replay of the x70 fixture formula: per doc, w = 4 +
    // n_chars%5, h = 3 + doc_id%4, pixel byte k = (doc_id*31 + k*7) % 256
    // over k in [0, 3wh) — the engine must reproduce these sums from the
    // DECODED payload bytes.
    "x70_image_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, lang,
        |    (4 + strlen(text) % 5)::BIGINT AS w, (3 + doc_id % 4)::BIGINT AS h
        |  FROM documents),
        |per AS (
        |  SELECT lang, 3*w*h AS n_px,
        |    (SELECT SUM((doc_id*31 + k*7) % 256)
        |     FROM unnest(range(3*w*h)) AS t(k)) AS px_sum
        |  FROM dims)
        |SELECT lang, COUNT(*) AS images, CAST(SUM(n_px) AS BIGINT) AS pixels,
        |  CAST(SUM(px_sum) AS BIGINT) AS pixel_sum,
        |  round(CAST(SUM(px_sum) AS DOUBLE) / SUM(n_px), 4) AS mean_pixel
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "a1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a2_orders_by_nation" ->
      """SELECT n_name, COUNT(*) AS n_orders, CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS total_floor
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "a3_event_type_daily" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    "a4_top_customers" ->
      """SELECT o_custkey, COUNT(*) AS n, CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS tot
        |FROM orders GROUP BY o_custkey
        |ORDER BY tot DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "a5_running_total" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) OVER (
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
        |FROM lineitem WHERE l_suppkey = 1
        |ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "x24_frame_sample" ->
      """WITH f AS (
        |  SELECT source, strlen(text) // 64 AS nf FROM documents),
        |s AS (
        |  SELECT source, nf, CASE WHEN nf = 0 THEN 0 ELSE (nf + 3) // 4 END AS ns
        |  FROM f)
        |SELECT source, COUNT(*) AS n_assets,
        |       CAST(SUM(nf) AS BIGINT) AS total_frames,
        |       CAST(SUM(ns) AS BIGINT) AS sampled_frames,
        |       CAST(SUM(ns * 64) AS BIGINT) AS sampled_bytes
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "x23_token_mix" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens_total,
        |         1.0 + (CAST(substr(source, 4) AS INTEGER) % 3) AS w
        |  FROM t GROUP BY source),
        |sw AS (SELECT CAST(SUM(w) AS DOUBLE) AS sumw FROM tot),
        |r AS (
        |  SELECT source, n_docs, tokens_total,
        |         least(1.0, 10000.0 * w / sumw / tokens_total) AS rate
        |  FROM tot, sw),
        |k AS (
        |  SELECT t.source, t.toks, r.n_docs, r.tokens_total, r.rate,
        |         (('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0)
        |           < r.rate AS keep
        |  FROM t JOIN r ON t.source = r.source)
        |SELECT source, ANY_VALUE(n_docs) AS n_docs, ANY_VALUE(tokens_total) AS tokens_total,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(COALESCE(SUM(CASE WHEN keep THEN toks END), 0) AS BIGINT) AS tokens_kept,
        |       round(ANY_VALUE(rate), 6) AS rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "x25_lsh_recall" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::BIGINT < 8),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc_a, doc_b,
        |    n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jac
        |  FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_a
        |             JOIN sizes sb ON sb.doc_id = inter.doc_b
        |  WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8),
        |vs AS (
        |  SELECT doc_id, list_transform(sh,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
        |  FROM shl),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
        |  FROM vs),
        |banded AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 4),
        |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
        |  FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |found AS (
        |  SELECT cand.doc_a, cand.doc_b FROM cand
        |  JOIN shl sa ON sa.doc_id = cand.doc_a JOIN shl sb ON sb.doc_id = cand.doc_b
        |  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8),
        |miss AS (
        |  SELECT t.jac, f.doc_a IS NOT NULL AS fnd
        |  FROM truth t LEFT JOIN found f ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
        |SELECT COUNT(*) AS n_true_pairs,
        |  CAST(COALESCE(SUM(CASE WHEN fnd THEN 1 END), 0) AS BIGINT) AS n_found,
        |  CAST(COALESCE(SUM(CASE WHEN NOT fnd THEN 1 END), 0) AS BIGINT) AS n_missed,
        |  round(COALESCE(MIN(CASE WHEN NOT fnd THEN jac END), -1.0), 4) AS min_missed_jaccard,
        |  round(COALESCE(MAX(CASE WHEN NOT fnd THEN jac END), -1.0), 4) AS max_missed_jaccard,
        |  round(CAST(COALESCE(SUM(CASE WHEN fnd THEN 1 END), 0) AS DOUBLE)
        |    / greatest(COUNT(*), 1), 4) AS recall
        |FROM miss""".stripMargin,
    "x27_lsh_buckets" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |vs AS (
        |  SELECT doc_id, list_transform(sh,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
        |  FROM shl),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
        |  FROM vs),
        |banded AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 4),
        |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
        |  FROM sig),
        |b AS (
        |  SELECT band_key, COUNT(*) AS bsz FROM banded
        |  GROUP BY band_key HAVING COUNT(*) > 1)
        |SELECT COUNT(*) AS n_buckets,
        |  CAST(COALESCE(SUM(CASE WHEN bsz > 4096 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oversized,
        |  CAST(COALESCE(MAX(bsz), 0) AS BIGINT) AS max_bucket,
        |  CAST(COALESCE(SUM(CASE WHEN bsz > 4096 THEN (bsz*(bsz-1))//2 END), 0) AS BIGINT)
        |    AS clique_pairs_avoided
        |FROM b""".stripMargin,
    "x26_token_mix_weighted" ->
      """WITH wt AS (
        |  SELECT * FROM (VALUES ('src0', 4.0), ('src7', 1.0), ('src13', 2.0),
        |    ('src_no_such', 9.0)) AS v(source, weight)),
        |t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |tot AS (
        |  SELECT t.source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens_total,
        |         CAST(COALESCE(ANY_VALUE(wt.weight), 0.0) AS DOUBLE) AS w
        |  FROM t LEFT JOIN wt ON t.source = wt.source GROUP BY t.source),
        |sw AS (SELECT CAST(SUM(w) AS DOUBLE) AS sumw FROM tot),
        |r AS (
        |  SELECT source, n_docs, tokens_total,
        |         CASE WHEN w > 0 AND sumw > 0
        |           THEN least(1.0, 10000.0 * w / sumw / tokens_total)
        |           ELSE 0.0 END AS rate
        |  FROM tot, sw),
        |k AS (
        |  SELECT t.source, t.toks, r.n_docs, r.tokens_total, r.rate,
        |         (('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0)
        |           < r.rate AS keep
        |  FROM t JOIN r ON t.source = r.source)
        |SELECT source, ANY_VALUE(n_docs) AS n_docs, ANY_VALUE(tokens_total) AS tokens_total,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(COALESCE(SUM(CASE WHEN keep THEN toks END), 0) AS BIGINT) AS tokens_kept,
        |       round(ANY_VALUE(rate), 6) AS rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "x22_approx_quantiles" ->
      """SELECT lang, median(n_chars) AS med_chars,
        |       quantile_cont(n_chars, 0.9) AS p90_chars,
        |       TRUE AS approx_med_within_5pct, TRUE AS approx_p90_within_5pct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x21_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, lang, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE doc_id % 97 != 0),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS shared
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |per AS (
        |  SELECT p.doc_id, p.lang, COALESCE(ov.shared, 0) AS shared
        |  FROM (SELECT doc_id, lang FROM shl WHERE doc_id % 97 != 0) p
        |  LEFT JOIN ov ON p.doc_id = ov.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN shared >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |       CAST(MAX(shared) AS BIGINT) AS max_overlap
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // x21's CTEs with the doc's own shingle count carried through; the
    // contamination test and severity are integer-exact (cross-multiply,
    // floor division)
    "x108_decontam_frac" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, lang, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE doc_id % 97 != 0),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS shared
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |per AS (
        |  SELECT p.doc_id, p.lang, COALESCE(ov.shared, 0) AS shared, p.n_sh
        |  FROM (SELECT doc_id, lang, len(sh) AS n_sh FROM shl WHERE doc_id % 97 != 0) p
        |  LEFT JOIN ov ON p.doc_id = ov.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN shared * 1000 >= 100 * n_sh THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_contaminated,
        |       CAST(MAX((shared * 1000) // n_sh) AS BIGINT) AS max_permille
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "x20_running_total_dist" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) OVER (
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
        |FROM lineitem WHERE l_suppkey = 1
        |ORDER BY l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "r8_status_counts" -> s"""$cte
      |SELECT pipeline_status, COUNT(*) AS n FROM pipeline_runs
      |GROUP BY pipeline_status ORDER BY pipeline_status""".stripMargin,
    "x11_sessionize" -> sessionizeOracleSql,
    // stream == batch: the replayed streaming sessionizer is gated against
    // the BATCH operator's oracle verbatim
    "x127_session_stream" -> sessionizeOracleSql,
    // the same prefix-AND waterfill closed form over the per-source relation
    "x128_epoch_waterfill" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |c AS (
        |  SELECT source, n_docs, tokens, (2000 * tokens) // 1000 AS cap,
        |    row_number() OVER w AS idx,
        |    CAST(SUM((2000 * tokens) // 1000) OVER (
        |      ORDER BY (2000 * tokens) // 1000, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cap,
        |    COUNT(*) OVER () AS nsrc
        |  FROM per WINDOW w AS (ORDER BY (2000 * tokens) // 1000, source)),
        |f AS (
        |  SELECT *, CASE WHEN 50000 - (cum_cap - cap)
        |      >= cap * (nsrc - idx + 1) THEN 1 ELSE 0 END AS fl
        |  FROM c),
        |p AS (
        |  SELECT *, CAST(MIN(fl) OVER (ORDER BY cap, source
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS capped FROM f),
        |agg AS (
        |  SELECT CAST(SUM(CASE WHEN capped = 1 THEN cap ELSE 0 END) AS BIGINT)
        |      AS cap_mass,
        |    CAST(SUM(1 - capped) AS BIGINT) AS n_open FROM p),
        |r AS (
        |  SELECT p.*, CASE WHEN n_open > 0
        |      THEN (50000 - cap_mass) // n_open ELSE 0 END AS lam
        |  FROM p, agg)
        |SELECT source, n_docs, tokens, CAST(cap AS BIGINT) AS capacity, capped,
        |  CAST(CASE WHEN capped = 1 THEN cap
        |       ELSE least(cap, lam) END AS BIGINT) AS alloc_tokens,
        |  CAST((1000 * (CASE WHEN capped = 1 THEN cap ELSE least(cap, lam) END))
        |    // tokens AS BIGINT) AS epochs_milli
        |FROM r ORDER BY source""".stripMargin,
    // ceil via integer arithmetic; util one integral division at the end
    "x129_pad_waste" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (SELECT lang, toks, (toks + 127) // 128 AS seqs FROM t),
        |g AS (
        |  SELECT lang, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens,
        |    CAST(SUM(seqs) AS BIGINT) AS seqs FROM s GROUP BY lang)
        |SELECT lang, docs, tokens, seqs,
        |  CAST(seqs * 128 - tokens AS BIGINT) AS pad_tokens,
        |  CAST((1000 * tokens) // (seqs * 128) AS BIGINT) AS util_permille
        |FROM g ORDER BY lang""".stripMargin,
    // same rank formula; ties rank arbitrarily, the rank-sum is invariant
    "x153_token_gini" ->
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents),
        |r AS (
        |  SELECT source, t, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY t) AS BIGINT) AS i
        |  FROM t),
        |m AS (
        |  SELECT source, COUNT(*)::BIGINT AS n, CAST(SUM(t) AS BIGINT) AS tokens,
        |    CAST(SUM(i * t) AS BIGINT) AS sit
        |  FROM r GROUP BY 1)
        |SELECT source, n AS docs, tokens,
        |  CAST((1000000 * (2 * sit::HUGEINT - (n::HUGEINT + 1) * tokens))
        |    // (n::HUGEINT * tokens) AS BIGINT) AS gini_micro
        |FROM m ORDER BY source""".stripMargin,
    // x63's anchor chain + latency grouping; nearest-rank on the grid
    "x151_funnel_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |r1 AS (SELECT user_id, MIN(tus) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |r2 AS (SELECT e.user_id, MIN(CASE WHEN e.tus > r1.t THEN e.tus END) AS t
        |  FROM e JOIN r1 USING (user_id) WHERE e.event_type = 'click'
        |  GROUP BY 1 HAVING MIN(CASE WHEN e.tus > r1.t THEN e.tus END) IS NOT NULL),
        |r3 AS (SELECT e.user_id, MIN(CASE WHEN e.tus > r2.t THEN e.tus END) AS t
        |  FROM e JOIN r2 USING (user_id) WHERE e.event_type = 'purchase'
        |  GROUP BY 1 HAVING MIN(CASE WHEN e.tus > r2.t THEN e.tus END) IS NOT NULL),
        |lat AS (
        |  SELECT 1 AS stage, 'view->click' AS transition, r2.t - r1.t AS lat
        |  FROM r1 JOIN r2 USING (user_id)
        |  UNION ALL
        |  SELECT 2, 'click->purchase', r3.t - r2.t FROM r2 JOIN r3 USING (user_id)),
        |g AS (SELECT stage, transition, lat, COUNT(*)::BIGINT AS cnt
        |  FROM lat GROUP BY 1, 2, 3),
        |t AS (SELECT stage, transition, CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM g GROUP BY 1, 2),
        |c AS (SELECT stage, transition, lat, cnt,
        |    SUM(cnt) OVER (PARTITION BY stage ORDER BY lat) AS cum FROM g),
        |th AS (SELECT c.stage, c.transition,
        |    MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN lat END) AS p50_us,
        |    MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN lat END) AS p90_us,
        |    MAX(lat) AS max_us
        |  FROM c JOIN t USING (stage, transition) GROUP BY 1, 2)
        |SELECT CAST(th.stage AS INT) AS stage, th.transition, t.n AS users,
        |  th.p50_us, th.p90_us, CAST(th.max_us AS BIGINT) AS max_us
        |FROM th JOIN t USING (stage, transition) ORDER BY th.stage""".stripMargin,
    // the x34 walk's sizes histogrammed; singletons from the corpus count
    "x152_cluster_sizes" -> (componentsWalkCte +
      """
        |, comp AS (SELECT u AS doc_id, MIN(lbl) AS comp FROM walk GROUP BY u),
        |sz AS (SELECT comp, COUNT(*)::BIGINT AS csize FROM comp GROUP BY comp),
        |hist AS (SELECT csize, COUNT(*)::BIGINT AS clusters FROM sz GROUP BY 1),
        |single AS (
        |  SELECT CAST(1 AS BIGINT) AS csize,
        |    (SELECT COUNT(*) FROM documents)
        |      - COALESCE((SELECT SUM(csize) FROM sz), 0) AS clusters),
        |allrows AS (
        |  SELECT csize, clusters FROM hist
        |  UNION ALL SELECT csize, clusters FROM single)
        |SELECT csize, CAST(clusters AS BIGINT) AS clusters,
        |  CAST(csize * clusters AS BIGINT) AS docs,
        |  CAST((csize - 1) * clusters AS BIGINT) AS removable
        |FROM allrows ORDER BY csize""".stripMargin),
    // identical moments; HUGEINT products; sign-aware // mirrors DIV
    "x149_daily_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS y
        |  FROM events GROUP BY 1, 2),
        |xi AS (
        |  SELECT event_type, y, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) - 1 AS BIGINT) AS x
        |  FROM daily),
        |m AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM xi GROUP BY 1)
        |SELECT event_type, n, sy AS total,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE
        |    CASE WHEN (n::HUGEINT * sxy - sx::HUGEINT * sy) >= 0
        |    THEN (1000000 * (n::HUGEINT * sxy - sx::HUGEINT * sy))
        |      // (n::HUGEINT * sxx - sx::HUGEINT * sx)
        |    ELSE -((1000000 * -(n::HUGEINT * sxy - sx::HUGEINT * sy))
        |      // (n::HUGEINT * sxx - sx::HUGEINT * sx))
        |    END END AS BIGINT) AS slope_micro
        |FROM m ORDER BY event_type""".stripMargin,
    // gap attributed to the LATER event's type; x117 machinery on gaps
    "x150_interarrival" ->
      """WITH e AS (
        |  SELECT event_type, user_id, event_id, epoch_us(ts) AS tus FROM events),
        |g0 AS (
        |  SELECT event_type, tus - lag(tus) OVER (
        |    PARTITION BY user_id ORDER BY tus, event_id) AS gap FROM e),
        |g AS (SELECT event_type, gap, COUNT(*)::BIGINT AS cnt FROM g0
        |  WHERE gap IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |c AS (SELECT event_type, gap, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap) AS cum FROM g),
        |th AS (SELECT c.event_type,
        |    MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN gap END) AS p50_us,
        |    MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN gap END) AS p90_us,
        |    MAX(gap) AS max_us
        |  FROM c JOIN t USING (event_type) GROUP BY c.event_type)
        |SELECT th.event_type, t.n, th.p50_us, th.p90_us,
        |  CAST(th.max_us AS BIGINT) AS max_us
        |FROM th JOIN t USING (event_type) ORDER BY th.event_type""".stripMargin,
    // same derivation (de docs + the German phrase under 'mix'), same hit
    // lists, one descending list_sort
    "x147_lang_mix" ->
      s"""WITH corpus AS (
         |  SELECT lang, text FROM documents
         |  UNION ALL
         |  SELECT 'mix' AS lang, text || ' der die das und ist nicht' AS text
         |  FROM documents WHERE lang = 'de'),
         |d AS (SELECT lang, string_split(lower(text), ' ') AS w FROM corpus),
         |h AS (SELECT lang, list_sort([${hitsSql("en")}, ${hitsSql("de")},
         |    ${hitsSql("fr")}, ${hitsSql("es")}], 'DESC') AS l FROM d),
         |b AS (SELECT lang, CAST(l[1] AS BIGINT) AS best,
         |    CAST(l[2] AS BIGINT) AS second FROM h)
         |SELECT lang, COUNT(*) AS docs,
         |  CAST(SUM(CASE WHEN best > 0 AND second >= 3
         |    AND second * 1000 >= 500 * best THEN 1 ELSE 0 END) AS BIGINT)
         |    AS mixed_docs,
         |  CAST(MAX(CASE WHEN best > 0 THEN (1000000 * second) // best
         |    ELSE 0 END) AS BIGINT) AS max_mix_micro
         |FROM b GROUP BY lang ORDER BY lang""".stripMargin,
    // CDFs on the pooled grid, cross-multiplied in HUGEINT
    "x148_ks_drift" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |typed AS (SELECT event_type, v, COUNT(*)::BIGINT AS cnt
        |  FROM q GROUP BY 1, 2),
        |gtot AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM typed GROUP BY 1),
        |tt AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM typed GROUP BY 1),
        |bt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS big_n FROM typed),
        |grid AS (
        |  SELECT t.event_type, g.v, COALESCE(ty.cnt, 0) AS cnt, g.gcnt, t.n
        |  FROM gtot g CROSS JOIN tt t
        |  LEFT JOIN typed ty ON ty.event_type = t.event_type AND ty.v = g.v),
        |c AS (
        |  SELECT event_type, n,
        |    SUM(cnt) OVER w AS cum_t, SUM(gcnt) OVER w AS cum_g
        |  FROM grid WINDOW w AS (
        |    PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |m AS (
        |  SELECT c.event_type, MAX(c.n) AS n,
        |    MAX(abs(c.cum_t::HUGEINT * bt.big_n - c.cum_g::HUGEINT * c.n)) AS d
        |  FROM c, bt GROUP BY c.event_type)
        |SELECT m.event_type, m.n,
        |  CAST((1000000 * m.d) // (m.n::HUGEINT * bt.big_n) AS BIGINT) AS ks_micro
        |FROM m, bt ORDER BY m.event_type""".stripMargin,
    // the stream's finalized windows must equal the plain batch census
    "x146_window_stream" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // the recovered stream must land on the identical batch census
    "x154_file_stream_recovery" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // the crash-replayed exactly-once corpus must equal the batch prep
    // pipeline: redaction (x44's chain) -> quality rules (x45's
    // conjunction, over the REDACTED text) -> md5 split (x46) -> census
    "x159_prep_stream_recovery" ->
      s"""WITH r AS (
        |  SELECT doc_id, lang, $redactApplySql AS text FROM documents),
        |m AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w,
        |    strlen(text) AS c
        |  FROM r),
        |f AS (
        |  SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n,
        |    ((len(w) >= 30 AND len(w) <= 1000)
        |      AND (3*len(w) <= c - len(w) + 1 AND c - len(w) + 1 <= 12*len(w))
        |      AND (5*len(list_distinct(w)) >= len(w))
        |      AND (5*list_max(list_transform(list_distinct(w),
        |             x -> len(list_filter(w, y -> y = x)))) <= len(w))) AS ok
        |  FROM m),
        |s AS (
        |  SELECT lang, n,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bk
        |  FROM f WHERE ok)
        |SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, COUNT(*) AS docs, CAST(SUM(n) AS BIGINT) AS tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical ordered-wedge derivation; u<v<w counts each triangle once
    "x145_triangles" ->
      """WITH d AS (
        |  SELECT string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |a0 AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> struct_pack(u := w[i], v := w[i+1]))) AS p
        |  FROM d),
        |adj AS (SELECT p.u AS u, p.v AS v FROM a0 WHERE p.u <> p.v),
        |edges AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM adj),
        |wedges AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM edges e1 JOIN edges e2 ON e1.b = e2.a),
        |tri AS (
        |  SELECT wd.u, wd.v, wd.w FROM wedges wd
        |  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.a = wd.u AND e.b = wd.w)),
        |corners AS (
        |  SELECT u AS word FROM tri UNION ALL
        |  SELECT v FROM tri UNION ALL SELECT w FROM tri)
        |SELECT word, COUNT(*) AS triangles FROM corners
        |GROUP BY word ORDER BY triangles DESC, word LIMIT 10""".stripMargin,
    // the micro constants are interpolated from the same Scala list the
    // engine uses — one source of truth for the expectation table
    "x142_benford" -> {
      val cases = CurationOps.BenfordMicro.zipWithIndex
        .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
         |    1, 1) AS INT) AS digit
         |  FROM orders WHERE o_totalprice >= 1),
         |g AS (SELECT digit, COUNT(*)::BIGINT AS n FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
         |SELECT digit, n, CAST((1000000 * n) // total AS BIGINT) AS observed_micro,
         |  CAST(CASE digit $cases END AS BIGINT) AS expected_micro,
         |  CAST(abs((1000000 * n) // total - CASE digit $cases END) AS BIGINT)
         |    AS dev_micro
         |FROM g, t ORDER BY digit""".stripMargin
    },
    // DuckDB dayofweek is 0-based Sunday; +1 matches Spark — the key is
    // internal either way, the partition just has to agree
    "x143_chi2_dow" ->
      """WITH cells AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*)::BIGINT AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(SUM(o) AS BIGINT) AS big_n FROM cells),
        |x AS (
        |  SELECT cells.event_type, rt.r,
        |    CAST(((big_n::HUGEINT * o - r::HUGEINT * c)
        |      * (big_n::HUGEINT * o - r::HUGEINT * c) * 1000000)
        |      // (big_n::HUGEINT * r * c) AS BIGINT) AS cell
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tt)
        |SELECT event_type, MAX(r) AS n, COUNT(*) AS cells,
        |  CAST(SUM(cell) AS BIGINT) AS chi2_micro
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
    // sign-aware scaling: Spark's DIV truncates toward zero, DuckDB's //
    // floors — they differ on negative Gram entries
    "x144_gram_topk" ->
      """WITH q0 AS (
        |  SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> struct_pack(pos := i, x := embedding[i]))) AS u
        |  FROM embeddings),
        |q AS (SELECT vec_id, u.pos AS pos,
        |    CAST(floor(CAST(u.x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM q0),
        |g AS (
        |  SELECT a.pos AS i, b.pos AS j, SUM(a.q::HUGEINT * b.q) AS s
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT i, j, CAST(CASE WHEN s >= 0 THEN s // 1000000
        |    ELSE -((-s) // 1000000) END AS BIGINT) AS dot_micro FROM g)
        |SELECT i, j, dot_micro FROM sc
        |ORDER BY abs(dot_micro) DESC, i, j LIMIT 10""".stripMargin,
    // grouping key is internal, so DuckDB's 1-based positions are fine;
    // the per-dim integral division mirrors the engine's DECIMAL DIV
    "x139_centroid_drift" ->
      """WITH q0 AS (
        |  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> struct_pack(pos := i, x := embedding[i]))) AS u
        |  FROM embeddings),
        |q AS (
        |  SELECT label, u.pos AS pos,
        |    CAST(floor(CAST(u.x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM q0),
        |lab AS (
        |  SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s, COUNT(*)::BIGINT AS n
        |  FROM q GROUP BY 1, 2),
        |gtot AS (
        |  SELECT pos, CAST(SUM(s) AS BIGINT) AS g, CAST(SUM(n) AS BIGINT) AS big_n
        |  FROM lab GROUP BY 1),
        |d AS (
        |  SELECT label, n,
        |    CAST(((big_n::HUGEINT * s - n::HUGEINT * g)
        |      * (big_n::HUGEINT * s - n::HUGEINT * g))
        |      // (n::HUGEINT * big_n * n::HUGEINT * big_n) AS BIGINT) AS d2
        |  FROM lab JOIN gtot USING (pos))
        |SELECT label, MAX(n) AS n, CAST(SUM(d2) AS BIGINT) AS dist2_micro2
        |FROM d GROUP BY label ORDER BY label""".stripMargin,
    // the x117 nearest-rank machinery over a join-derived metric
    "x140_ship_lag" ->
      """WITH j AS (
        |  SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
        |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT month, lag, COUNT(*) AS cnt FROM j GROUP BY 1, 2),
        |t AS (SELECT month, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |c AS (SELECT month, lag, cnt,
        |    SUM(cnt) OVER (PARTITION BY month ORDER BY lag) AS cum FROM g),
        |th AS (SELECT c.month,
        |    MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN lag END) AS p50_days,
        |    MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN lag END) AS p90_days,
        |    MAX(lag) AS max_days
        |  FROM c JOIN t USING (month) GROUP BY c.month)
        |SELECT th.month, t.n, th.p50_days, th.p90_days,
        |  CAST(th.max_days AS BIGINT) AS max_days
        |FROM th JOIN t USING (month) ORDER BY month""".stripMargin,
    // inverted-index probe with the relative df cap and integral idf
    "x141_sparse_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
        |dft AS (
        |  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |keep AS (
        |  SELECT term, df FROM dft, nd WHERE df * 1000 <= 780 * n_docs),
        |w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * ((1000 * nd.n_docs) // k.df) AS w
        |  FROM tf JOIN keep k USING (term), nd),
        |qv AS (SELECT term, w AS wq FROM w WHERE doc_id = 0)
        |SELECT w.doc_id, CAST(SUM(w.w * qv.wq) AS BIGINT) AS score
        |FROM w JOIN qv USING (term) WHERE w.doc_id <> 0
        |GROUP BY w.doc_id ORDER BY score DESC, w.doc_id LIMIT 10""".stripMargin,
    // x11's session CTEs widened to (user, sid); then x63's stage chain
    "x137_session_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus, SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |r1 AS (
        |  SELECT user_id, sid, MIN(tus) AS t FROM s
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |r2 AS (
        |  SELECT s.user_id, s.sid,
        |    MIN(CASE WHEN s.tus > r1.t THEN s.tus END) AS t
        |  FROM s JOIN r1 USING (user_id, sid) WHERE s.event_type = 'click'
        |  GROUP BY 1, 2 HAVING MIN(CASE WHEN s.tus > r1.t THEN s.tus END) IS NOT NULL),
        |r3 AS (
        |  SELECT s.user_id, s.sid,
        |    MIN(CASE WHEN s.tus > r2.t THEN s.tus END) AS t
        |  FROM s JOIN r2 USING (user_id, sid) WHERE s.event_type = 'purchase'
        |  GROUP BY 1, 2 HAVING MIN(CASE WHEN s.tus > r2.t THEN s.tus END) IS NOT NULL)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type, COUNT(*) AS sessions FROM r1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', COUNT(*) FROM r2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', COUNT(*) FROM r3
        |ORDER BY stage""".stripMargin,
    // consecutive in-session pairs via lead(); integral row normalization
    "x138_transitions" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus, SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |p AS (
        |  SELECT event_type AS cur, lead(event_type) OVER (
        |    PARTITION BY user_id, sid ORDER BY tus, event_id) AS nxt
        |  FROM s),
        |g AS (SELECT cur, nxt, COUNT(*)::BIGINT AS n FROM p
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM g GROUP BY 1)
        |SELECT g.cur, g.nxt, g.n,
        |  CAST((1000000 * g.n) // t.tot AS BIGINT) AS p_micro
        |FROM g JOIN t USING (cur) ORDER BY g.cur, g.nxt""".stripMargin,
    // same order statistics, same integral estimator, exact-gated
    "x135_kmv_sketch" ->
      """WITH ut AS (SELECT DISTINCT event_type AS scope, user_id FROM events),
        |h AS (SELECT scope, user_id,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ut),
        |km AS (SELECT scope, h FROM (
        |    SELECT scope, h,
        |      row_number() OVER (PARTITION BY scope ORDER BY h, user_id) AS rn
        |    FROM h) WHERE rn <= 64),
        |pt AS (SELECT scope, COUNT(*)::BIGINT AS sketch_size, MAX(h) AS kth
        |  FROM km GROUP BY 1),
        |ex AS (SELECT scope, COUNT(DISTINCT user_id)::BIGINT AS exact_users
        |  FROM ut GROUP BY 1),
        |mg AS (SELECT COUNT(*)::BIGINT AS sketch_size, MAX(h) AS kth FROM (
        |    SELECT DISTINCT h FROM km ORDER BY h LIMIT 64)),
        |ga AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS exact_users FROM events),
        |allrows AS (
        |  SELECT p.scope, e.exact_users, p.sketch_size, p.kth
        |  FROM pt p JOIN ex e USING (scope)
        |  UNION ALL
        |  SELECT '__all', ga.exact_users, mg.sketch_size, mg.kth FROM mg, ga)
        |SELECT scope, exact_users, sketch_size,
        |  CAST(CASE WHEN sketch_size < 64 THEN sketch_size
        |       ELSE ((63::HUGEINT * 1152921504606846976) // kth) END AS BIGINT)
        |    AS est_users
        |FROM allrows ORDER BY scope""".stripMargin,
    // brute range join (DuckDB IEJoin); the banded engine must agree
    "x136_interval_lookup" -> s"""$cte
      |, r AS (
      |  SELECT record_id, pipeline_name,
      |    query_window_start_ts AS sts, query_window_end_ts AS ets
      |  FROM pipeline_runs WHERE pipeline_status = 'completed')
      |SELECT pipeline_name, COUNT(*) AS matched_pairs,
      |  COUNT(DISTINCT e.event_id) AS events_hit,
      |  COUNT(DISTINCT r.record_id) AS runs_hit
      |FROM r JOIN events e ON e.ts >= r.sts AND e.ts < r.ets
      |GROUP BY pipeline_name ORDER BY pipeline_name""".stripMargin,
    // the identical scaled-integer recurrence stepped by a recursive CTE
    "x133_cusum_drift" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, COUNT(*)::BIGINT AS n, CAST(SUM(c) AS BIGINT) AS s
        |  FROM daily GROUP BY 1),
        |seq AS (
        |  SELECT event_type, day, c, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS BIGINT) AS idx
        |  FROM daily),
        |rec AS (
        |  SELECT event_type, CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS t,
        |    CAST(0 AS BIGINT) AS alarms, CAST(0 AS BIGINT) AS maxt,
        |    CAST(NULL AS DATE) AS firstd
        |  FROM st
        |  UNION ALL
        |  SELECT r.event_type, q.idx,
        |    greatest(0, r.t + s.n * q.c - s.s - s.n * 2),
        |    r.alarms + CASE WHEN greatest(0, r.t + s.n * q.c - s.s - s.n * 2)
        |        >= s.n * 8 THEN 1 ELSE 0 END,
        |    greatest(r.maxt, greatest(0, r.t + s.n * q.c - s.s - s.n * 2)),
        |    CASE WHEN r.firstd IS NULL
        |        AND greatest(0, r.t + s.n * q.c - s.s - s.n * 2) >= s.n * 8
        |      THEN q.day ELSE r.firstd END
        |  FROM rec r
        |  JOIN seq q ON q.event_type = r.event_type AND q.idx = r.idx + 1
        |  JOIN st s ON s.event_type = r.event_type)
        |SELECT r.event_type, s.n AS days, r.alarms, r.maxt AS max_stat,
        |  r.firstd AS first_alarm_day
        |FROM rec r JOIN st s ON s.event_type = r.event_type
        |WHERE r.idx = s.n ORDER BY r.event_type""".stripMargin,
    // distinct user baskets -> within-user pairs -> integral lift
    "x134_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |u AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS users FROM ut),
        |supp AS (SELECT event_type, COUNT(*)::BIGINT AS supp FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*)::BIGINT AS supp_ab
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, supp_ab,
        |  CAST((1000000::HUGEINT * u.users * supp_ab)
        |    // (sa.supp::HUGEINT * sb.supp) AS BIGINT) AS lift_micro
        |FROM pairs
        |JOIN supp sa ON sa.event_type = type_a
        |JOIN supp sb ON sb.event_type = type_b, u
        |ORDER BY type_a, type_b""".stripMargin,
    // stage 1 is x56's oracle at k=20 nested verbatim; stage 2 re-ranks it
    "x131_retrieve_rerank" ->
      (s"""WITH stage1 AS (
          |${bm25OracleSql(Bm25Terms, 20, 1.2, 0.75)}
          |),
          |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
          |SELECT s.doc_id, round(list_cosine_similarity(q.qvec, e.embedding), 6) AS sim
          |FROM stage1 s JOIN embeddings e ON e.vec_id = s.doc_id, q
          |ORDER BY sim DESC, s.doc_id LIMIT 5""".stripMargin),
    // the same integral power iteration, rounds unrolled as chained CTEs
    "x132_textrank" -> textRankOracleSql(10, 20),
    // TPC-H Q5 shape; revenue floored to exact cents per row
    "x130_local_supplier" ->
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,
    "x13_approx_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS hll_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x12_length_quantiles" ->
      """SELECT lang, median(n_chars) AS med_chars,
        |       quantile_cont(n_chars, 0.9) AS p90_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "x14_topk_per_lang" ->
      """SELECT lang, rn AS rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin,
    "x15_discontinuities_all" -> s"""$cte
      |, ordered_windows AS (
      |  SELECT pipeline_name, index_name, query_window_start_ts, query_window_end_ts,
      |         LAG(query_window_end_ts) OVER (
      |           PARTITION BY pipeline_name, index_name, CAST(query_window_start_ts AS DATE)
      |           ORDER BY query_window_start_ts, record_id) AS prev_end_ts
      |  FROM pipeline_runs)
      |SELECT pipeline_name, index_name,
      |       prev_end_ts AS missing_query_window_start_ts,
      |       query_window_start_ts AS missing_query_window_end_ts
      |FROM ordered_windows
      |WHERE prev_end_ts IS NOT NULL AND query_window_start_ts != prev_end_ts
      |ORDER BY 1, 2, 3, 4""".stripMargin,
    "x16_overlap_banded" -> s"""$cte
      |, filtered_day_data AS (
      |  SELECT * FROM pipeline_runs
      |  WHERE pipeline_name = '$P' AND index_name = '$I'
      |    AND query_window_start_ts < DATE '$Day' + INTERVAL 1 DAY
      |    AND query_window_end_ts   > TIMESTAMP '$WStart')
      |SELECT t1.query_window_start_ts AS source_window_start_ts,
      |       t1.query_window_end_ts   AS source_window_end_ts,
      |       t2.query_window_start_ts AS overlaps_with_start_ts,
      |       t2.query_window_end_ts   AS overlaps_with_end_ts
      |FROM filtered_day_data t1 INNER JOIN filtered_day_data t2
      |  ON  t1.query_window_start_ts <  t2.query_window_end_ts
      |  AND t1.query_window_end_ts   >  t2.query_window_start_ts
      |  AND t1.query_window_start_ts != t2.query_window_start_ts
      |ORDER BY 1, 2, 3, 4""".stripMargin,
    "x17_props_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        |       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x18_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, ts AS err_ts, MAX(value) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, p.p_ts, e.err_ts, e.err_value
        |FROM p ASOF LEFT JOIN e
        |  ON p.user_id = e.user_id AND p.p_ts >= e.err_ts
        |ORDER BY p.user_id, p.event_id""".stripMargin,
    "a6_rollup_orders" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS tot
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "a7_customers_no_urgent" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "a8_set_ops" ->
      """SELECT user_id FROM (
        |  (SELECT user_id FROM events
        |   WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-15'
        |   INTERSECT
        |   SELECT user_id FROM events
        |   WHERE event_type = 'error' AND CAST(ts AS DATE) = DATE '2024-01-15')
        |  EXCEPT
        |  SELECT user_id FROM events
        |  WHERE event_type = 'signup' AND CAST(ts AS DATE) = DATE '2024-01-15')
        |ORDER BY user_id""".stripMargin,
    "x19_curation_funnel" -> (funnelCte +
      """
        |SELECT (SELECT COUNT(*) FROM documents) AS n_input,
        |       (SELECT COUNT(*) FROM q) AS n_quality,
        |       (SELECT COUNT(*) FROM ex) AS n_exact,
        |       (SELECT COUNT(*) FROM nd) AS n_neardedup,
        |       (SELECT COUNT(*) FROM samp) AS n_sampled""".stripMargin),
    // x42: the funnel's surviving documents themselves — per-lang census
    // over the samp id set joined back to the corpus's own columns.
    "x42_curation_corpus" -> (funnelCte +
      """
        |SELECT d.lang, COUNT(*) AS docs, CAST(SUM(d.n_chars) AS BIGINT) AS chars
        |FROM documents d JOIN samp ON d.doc_id = samp.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    // The capped LSH detector: candidates = cliques of buckets ≤ cap(2)
    // UNION star pairs (bucket representative = min doc_id, one pair per
    // other member) of buckets > cap — exactly DedupOps.minhashLsh's
    // bounded-task generator, then the same exact-Jaccard confirmation.
    "x28_lsh_capped" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |vs AS (
        |  SELECT doc_id, list_transform(sh,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
        |  FROM vs),
        |banded AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 4),
        |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
        |  FROM sig),
        |bs AS (
        |  SELECT band_key, COUNT(*) AS bsz, MIN(doc_id) AS rep
        |  FROM banded GROUP BY band_key),
        |cand AS (
        |  SELECT DISTINCT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |    FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |    JOIN bs ON bs.band_key = a.band_key AND bs.bsz <= 2
        |    UNION ALL
        |    SELECT bs.rep AS doc_a, banded.doc_id AS doc_b
        |    FROM banded JOIN bs ON bs.band_key = banded.band_key
        |    WHERE bs.bsz > 2 AND banded.doc_id <> bs.rep)),
        |j AS (
        |  SELECT doc_a, doc_b,
        |    len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
        |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j
        |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // The funnel with the near-dedup stage on the CAPPED LSH path: the
    // loser set comes from the clique ∪ star candidate generator above
    // (applied to exact-dedup survivors), not the exact all-pairs join.
    "x30_funnel_capped" ->
      """WITH q AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 30),
        |ex AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keeper
        |    FROM q) WHERE doc_id = keeper),
        |docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM ex),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |vs AS (
        |  SELECT doc_id, list_transform(sh,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
        |  FROM shl),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
        |  FROM vs),
        |banded AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 4),
        |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
        |  FROM sig),
        |bs AS (
        |  SELECT band_key, COUNT(*) AS bsz, MIN(doc_id) AS rep
        |  FROM banded GROUP BY band_key),
        |cand AS (
        |  SELECT DISTINCT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |    FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |    JOIN bs ON bs.band_key = a.band_key AND bs.bsz <= 2
        |    UNION ALL
        |    SELECT bs.rep AS doc_a, banded.doc_id AS doc_b
        |    FROM banded JOIN bs ON bs.band_key = banded.band_key
        |    WHERE bs.bsz > 2 AND banded.doc_id <> bs.rep)),
        |losers AS (
        |  SELECT DISTINCT doc_b AS doc_id
        |  FROM cand JOIN shl sa ON sa.doc_id = cand.doc_a
        |            JOIN shl sb ON sb.doc_id = cand.doc_b
        |  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8),
        |nd AS (SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |samp AS (
        |  SELECT doc_id FROM nd
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::BIGINT < 13)
        |SELECT (SELECT COUNT(*) FROM documents) AS n_input,
        |       (SELECT COUNT(*) FROM q) AS n_quality,
        |       (SELECT COUNT(*) FROM ex) AS n_exact,
        |       (SELECT COUNT(*) FROM nd) AS n_neardedup,
        |       (SELECT COUNT(*) FROM samp) AS n_sampled""".stripMargin,
    "x43_hash_embed" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |exp AS (SELECT doc_id, unnest(w) AS x FROM d),
        |wb AS (
        |  SELECT doc_id, ('0x' || substr(md5(x), 1, 8))::BIGINT % 64 AS b,
        |    COUNT(*) AS c
        |  FROM exp GROUP BY 1, 2)
        |SELECT b AS bucket, CAST(SUM(c) AS BIGINT) AS total_words,
        |  COUNT(*) AS docs_nonzero, CAST(MAX(c) AS BIGINT) AS max_count
        |FROM wb GROUP BY b ORDER BY b""".stripMargin,
    // x41: the star pairs of buckets > cap(2) with per-bucket verification
    // failure counts — the same banded/bs CTEs as x28's oracle.
    "x41_lsh_star_gap" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |vs AS (
        |  SELECT doc_id, list_transform(sh,
        |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS v
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    i -> list_min(list_transform(v, x -> (x*(2*i+1) + i) % 2147483647))) AS sig
        |  FROM vs),
        |banded AS (
        |  SELECT doc_id, unnest(list_transform(range(0, 4),
        |    b -> b::VARCHAR || ':' || array_to_string(list_slice(sig, b*4+1, b*4+4), ','))) AS band_key
        |  FROM sig),
        |bs AS (
        |  SELECT band_key, COUNT(*) AS bsz, MIN(doc_id) AS rep
        |  FROM banded GROUP BY band_key),
        |star AS (
        |  SELECT banded.band_key, bs.rep AS doc_a, banded.doc_id AS doc_b
        |  FROM banded JOIN bs ON bs.band_key = banded.band_key
        |  WHERE bs.bsz > 2 AND banded.doc_id <> bs.rep),
        |v AS (
        |  SELECT band_key,
        |    len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
        |  FROM star JOIN sh sa ON sa.doc_id = star.doc_a
        |            JOIN sh sb ON sb.doc_id = star.doc_b),
        |per AS (
        |  SELECT band_key, COUNT(*) AS tried,
        |    SUM(CASE WHEN jac < 0.8 THEN 1 ELSE 0 END) AS failed
        |  FROM v GROUP BY band_key)
        |SELECT CAST(COALESCE(SUM(tried), 0) AS BIGINT) AS star_pairs,
        |  CAST(COALESCE(SUM(failed), 0) AS BIGINT) AS failed_pairs,
        |  CAST(COALESCE(SUM(CASE WHEN failed > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS buckets_with_failures,
        |  CAST(COALESCE(MAX(failed), 0) AS BIGINT) AS max_failed_per_bucket
        |FROM per""".stripMargin,
    // two component paths, one output contract — see componentsOracleSql
    "x34_dedup_components" -> componentsOracleSql,
    "x156_components_collapsed" -> componentsOracleSql,
    "x157_dedup_best_collapsed" -> dedupBestOracleSql,
    "x158_dedup_corpus_collapsed" -> dedupCorpusOracleSql,
    "x38_dedup_corpus" -> dedupCorpusOracleSql,
    "x104_dedup_best" -> dedupBestOracleSql,
    "x105_semantic_decontam" ->
      """WITH ev AS (
        |  SELECT embedding AS ev_emb FROM embeddings WHERE vec_id % 97 = 0),
        |hits AS (
        |  SELECT c.vec_id,
        |    max(CASE WHEN round(list_cosine_similarity(c.embedding, e.ev_emb), 6) >= 0.4
        |      THEN 1 ELSE 0 END) AS hit
        |  FROM embeddings c CROSS JOIN ev e
        |  WHERE c.vec_id % 97 <> 0
        |  GROUP BY c.vec_id)
        |SELECT CAST(SUM(hit) AS BIGINT) AS contaminated,
        |  CAST(SUM(1 - hit) AS BIGINT) AS clean,
        |  CAST(SUM(vec_id * hit) AS BIGINT) AS id_checksum
        |FROM hits""".stripMargin,
    // Cleaned corpus from span dedup: the oracle rebuilds every document
    // from its surviving spans + tail exactly as TextOps.spanDedupApply
    // does, then sums token/char counts of the reassembled text.
    "x37_span_apply_corpus" ->
      """WITH d AS (
        |  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_transform(range(1, len(w)//8 + 1),
        |      i -> struct_pack(pos := i,
        |        span := array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' ')))
        |    ELSE [] END) AS u
        |  FROM d),
        |k AS (
        |  SELECT doc_id, u.pos AS pos, u.span AS span, row_number() OVER (
        |    PARTITION BY u.span ORDER BY doc_id, u.pos) AS rn
        |  FROM sp),
        |kept AS (
        |  SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS kept_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id),
        |cleaned AS (
        |  -- COALESCE both the slice-join (array_to_string([]) is NULL in
        |  -- DuckDB, '' in Spark's concat_ws) and the final text, so a doc
        |  -- that loses everything comes out '' in both engines
        |  SELECT d.lang, COALESCE(array_to_string(list_filter(
        |    [COALESCE(kept.kept_text, ''),
        |     COALESCE(array_to_string(
        |       list_slice(d.w, (len(d.w)//8)*8+1, len(d.w)), ' '), '')],
        |    s -> s <> ''), ' '), '') AS text
        |  FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS kept_chars
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
    "x33_ivf_recall" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  WHERE vec_id % 40 = 0 AND vec_id < 520),
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
        |  WHERE vec_id % 29 = 0 AND vec_id < 5000),
        |asg AS (SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC, c.cid ASC) AS rn
        |    FROM q CROSS JOIN cents c) WHERE rn <= 12),
        |scored AS (
        |  SELECT q.qid, a.vec_id, a.cid,
        |    list_cosine_similarity(q.qvec, a.embedding) AS sim
        |  FROM q CROSS JOIN asg a WHERE a.vec_id != q.qid),
        |exact_top AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id ASC) AS rn FROM scored) WHERE rn <= 10),
        |ivf_top AS (SELECT qid, vec_id FROM (
        |    SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
        |      ORDER BY s.sim DESC, s.vec_id ASC) AS rn
        |    FROM scored s JOIN probes p ON s.qid = p.qid AND s.cid = p.cid) WHERE rn <= 10),
        |ov AS (SELECT q.qid, COALESCE(o.ov, 0) AS ov FROM q LEFT JOIN (
        |    SELECT e.qid, COUNT(*) AS ov FROM exact_top e
        |    JOIN ivf_top i ON e.qid = i.qid AND e.vec_id = i.vec_id GROUP BY e.qid) o
        |  ON q.qid = o.qid)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(SUM(ov) AS BIGINT) AS sum_overlap,
        |       CAST(MIN(ov) AS BIGINT) AS min_overlap,
        |       round(SUM(ov)::DOUBLE / (COUNT(*) * 10), 4) AS recall
        |FROM ov""".stripMargin,
    "x31_repetition" ->
      """WITH d AS (
        |  SELECT lang, string_split(lower(text), ' ') AS w FROM documents),
        |m AS (
        |  SELECT lang, len(w) AS nw, len(list_distinct(w)) AS ndw,
        |    CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS nt,
        |    CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(range(1, len(w)-1),
        |      i -> array_to_string(list_slice(w, i, i+2), ' ')))) ELSE 0 END AS ndt
        |  FROM d)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(nw - ndw) AS BIGINT) AS dup_words,
        |  CAST(SUM(nt - ndt) AS BIGINT) AS dup_trigrams,
        |  CAST(SUM(CASE WHEN (nw - ndw)::DOUBLE / greatest(nw, 1) > 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS repetitive_docs
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "x32_span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_transform(range(1, len(w)//8 + 1),
        |      i -> array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' '))
        |    ELSE [] END) AS span
        |  FROM d),
        |per AS (SELECT span, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS nd
        |        FROM sp GROUP BY span)
        |SELECT CAST(SUM(n) AS BIGINT) AS total_spans,
        |       COUNT(*) AS distinct_spans,
        |       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_spans,
        |       CAST(MAX(nd) AS BIGINT) AS max_docs_sharing
        |FROM per""".stripMargin,
    "x35_span_dedup_apply" ->
      """WITH d AS (
        |  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT lang, doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_transform(range(1, len(w)//8 + 1),
        |      i -> struct_pack(pos := i,
        |        span := array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' ')))
        |    ELSE [] END) AS u
        |  FROM d),
        |k AS (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY u.span ORDER BY doc_id, u.pos) AS rn
        |  FROM sp)
        |SELECT lang, COUNT(*) AS spans,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed_spans,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 8 ELSE 0 END) AS BIGINT) AS tokens_removed,
        |  CAST(COUNT(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT) AS docs_affected
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // The salted join is row-identical to the plain equi-join by
    // construction, so the oracle is simply the unsalted form.
    "x29_salted_join" ->
      """SELECT e.event_type, COUNT(*) AS n,
        |       CAST(SUM(c.c_nationkey) AS BIGINT) AS nation_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // ---- training-data PREP operators (x44-x48) ----
    // The regex list is interpolated from PrepOps.PiiPatterns so the
    // Spark operator and the oracle can never drift apart.
    "x44_redact" -> s"""WITH m AS (
        |  SELECT lang, $redactHitsSql AS h, strlen(text) AS cb,
        |         strlen($redactApplySql) AS ca
        |  FROM documents)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(h) AS BIGINT) AS hits,
        |  CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
        |  CAST(SUM(cb) AS BIGINT) AS chars_before,
        |  CAST(SUM(ca) AS BIGINT) AS chars_after
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "x45_quality_filter" ->
      """WITH d AS (
        |  SELECT lang, string_split(lower(text), ' ') AS w, strlen(text) AS c
        |  FROM documents),
        |m AS (
        |  SELECT lang, len(w) AS n, len(list_distinct(w)) AS u, c,
        |    list_max(list_transform(list_distinct(w),
        |      x -> len(list_filter(w, y -> y = x)))) AS dm
        |  FROM d),
        |f AS (
        |  SELECT lang, n,
        |    (n >= 30 AND n <= 1000) AS p_wc,
        |    (3*n <= c - n + 1 AND c - n + 1 <= 12*n) AS p_wlen,
        |    (5*u >= n) AS p_ttr,
        |    (5*dm <= n) AS p_dom
        |  FROM m)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_ttr AND p_dom THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(SUM(CASE WHEN NOT p_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
        |  CAST(SUM(CASE WHEN NOT p_wlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wlen,
        |  CAST(SUM(CASE WHEN NOT p_ttr THEN 1 ELSE 0 END) AS BIGINT) AS fail_ttr,
        |  CAST(SUM(CASE WHEN NOT p_dom THEN 1 ELSE 0 END) AS BIGINT) AS fail_dom,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_ttr AND p_dom THEN n ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "x46_split_assign" ->
      """WITH b AS (
        |  SELECT lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bk,
        |    len(string_split(lower(text), ' ')) AS toks
        |  FROM documents)
        |SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The oracle is the plain single-window form; WindowOps.runningTotal
    // guarantees the distributed two-pass layout is bit-identical.
    "x47_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(lower(text), ' ')) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, SUM(toks) OVER (ORDER BY doc_id) AS cum FROM t)
        |SELECT ((cum - toks) // 2048)::BIGINT AS pack_id, COUNT(*) AS docs,
        |  CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // x47's prefix sum; a doc crosses a cut when its exclusive start and
    // inclusive end land in different windows
    "x109_chunk_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks, SUM(toks) OVER (ORDER BY doc_id) AS cum FROM t)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens,
        |  CAST(SUM(CASE WHEN ((cum - toks) // 2048) != ((cum - 1) // 2048)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS crossing_docs
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // the same (md5, doc_id)-ordered per-source prefix sum; kept = docs
    // whose inclusive running total stays within the cap
    "x110_source_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hk
        |  FROM documents),
        |c AS (
        |  SELECT source, toks,
        |    SUM(toks) OVER (PARTITION BY source ORDER BY hk, doc_id) AS cum
        |  FROM t)
        |SELECT source, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN cum <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |  CAST(SUM(CASE WHEN cum <= 1000 THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // the same closed forms: chunks k, mass (k-1)*W + tail, short tail
    "x111_rag_chunks" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT lang, n, CASE WHEN n <= 64 THEN 1
        |    ELSE (n - 64 + 48 - 1) // 48 + 1 END AS k FROM t),
        |m AS (
        |  SELECT lang, n, k, (k-1)*64 + (n - (k-1)*48) AS mass,
        |    CASE WHEN n - (k-1)*48 < 64 THEN 1 ELSE 0 END AS short FROM c)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(k) AS BIGINT) AS chunks,
        |  CAST(SUM(mass) AS BIGINT) AS chunk_tokens,
        |  CAST(SUM(short) AS BIGINT) AS short_chunks
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // the same span construction as x32/x37; the flag is corpus-wide df >= 3
    "x112_boilerplate" ->
      """WITH d AS (
        |  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT lang, doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_transform(range(1, len(w)//8 + 1),
        |      i -> array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' '))
        |    ELSE [] END) AS span
        |  FROM d),
        |bp AS (
        |  SELECT span FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT sp.lang, COUNT(*) AS spans,
        |  CAST(SUM(CASE WHEN bp.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bp_occurrences,
        |  CAST(SUM(CASE WHEN bp.span IS NOT NULL THEN 8 ELSE 0 END) AS BIGINT)
        |    AS bp_tokens,
        |  CAST(COUNT(DISTINCT CASE WHEN bp.span IS NOT NULL THEN sp.doc_id END)
        |    AS BIGINT) AS docs_touched
        |FROM sp LEFT JOIN bp ON sp.span = bp.span
        |GROUP BY sp.lang ORDER BY sp.lang""".stripMargin,
    // the heap aggregate vs the reference window form — identical rows/ranks
    "x118_topk_per_group" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_toks, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY n_toks DESC, doc_id ASC) AS INT) AS rn
        |  FROM t)
        |SELECT lang, doc_id, n_toks, rn FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin,
    // keep-first per (doc, span) via the window form; reassembly must
    // equal Spark's order-preserving array_distinct exactly
    "x121_intradoc_dedup" ->
      """WITH d AS (
        |  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT lang, doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(range(1, len(w)//2 + 1),
        |      i -> struct_pack(pos := i,
        |        span := array_to_string(list_slice(w, (i-1)*2+1, (i-1)*2+2), ' ')))
        |    ELSE [] END) AS u
        |  FROM d),
        |k AS (
        |  SELECT doc_id, u.pos AS pos, u.span AS span FROM sp
        |  QUALIFY row_number() OVER (PARTITION BY doc_id, u.span ORDER BY u.pos) = 1),
        |kt AS (
        |  SELECT doc_id, array_to_string(list(span ORDER BY pos), ' ') AS kept
        |  FROM k GROUP BY doc_id),
        |t AS (
        |  SELECT lang, doc_id,
        |    -- start > end (len % 2 = 0) makes list_slice NULL, not []
        |    coalesce(array_to_string(
        |      list_slice(w, (len(w)//2)*2 + 1, len(w)), ' '), '') AS tail
        |  FROM d),
        |f AS (
        |  SELECT t.lang,
        |    CASE WHEN coalesce(kt.kept, '') = '' THEN t.tail
        |         WHEN t.tail = '' THEN kt.kept
        |         ELSE kt.kept || ' ' || t.tail END AS text
        |  FROM t LEFT JOIN kt USING (doc_id))
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS kept_chars
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // a value-RANGE frame counts ts ties symmetrically in both engines
    "x122_trailing_window" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS tus FROM events),
        |t AS (
        |  SELECT event_type, COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS trail
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(trail) AS BIGINT) AS trail_sum,
        |  CAST(MAX(trail) AS BIGINT) AS trail_max
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the same grouped nearest-rank machinery as x117, applied twice
    // (median of values, then median of |v - med|)
    "x123_mad_outliers" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |g AS (SELECT event_type, v, COUNT(*) AS cnt FROM q GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |c AS (SELECT event_type, v, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum FROM g),
        |m AS (SELECT c.event_type,
        |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
        |  FROM c JOIN t USING (event_type) GROUP BY c.event_type),
        |dg AS (SELECT g.event_type, abs(v - med) AS d, CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM g JOIN m USING (event_type) GROUP BY g.event_type, abs(v - med)),
        |dc AS (SELECT event_type, d, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY d) AS cum FROM dg),
        |mad AS (SELECT dc.event_type,
        |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS mad
        |  FROM dc JOIN t USING (event_type) GROUP BY dc.event_type)
        |SELECT dg.event_type, CAST(SUM(cnt) AS BIGINT) AS n,
        |  CAST(MIN(med) AS BIGINT) AS med_micro,
        |  CAST(MIN(mad.mad) AS BIGINT) AS mad_micro,
        |  CAST(SUM(CASE WHEN d > 3 * mad.mad THEN cnt ELSE 0 END) AS BIGINT)
        |    AS outliers,
        |  CAST(MAX(d) AS BIGINT) AS max_dev_micro
        |FROM dg JOIN m USING (event_type) JOIN mad USING (event_type)
        |GROUP BY dg.event_type ORDER BY dg.event_type""".stripMargin,
    // per-query different-label ranking over the full corpus
    "x124_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS qvec, label AS qlab
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000),
        |s AS (
        |  SELECT q.q_id, c.vec_id,
        |    round(list_cosine_similarity(q.qvec, c.embedding), 6) AS sim
        |  FROM q JOIN embeddings c
        |    ON c.label <> q.qlab AND c.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, sim, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rn FROM s)
        |SELECT q_id, vec_id, sim, rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,
    // the x34 walk's component sizes inverted into fixed-point weights;
    // un-walked docs are singletons at weight 1.0
    "x125_cluster_balance" -> (componentsWalkCte +
      """
        |, comp AS (SELECT u AS doc_id, MIN(lbl) AS comp FROM walk GROUP BY u),
        |sz AS (SELECT comp, COUNT(*) AS csize FROM comp GROUP BY comp),
        |d AS (
        |  SELECT doc.lang, c.comp, coalesce(s.csize, 1) AS csize
        |  FROM documents doc
        |  LEFT JOIN comp c ON doc.doc_id = c.doc_id
        |  LEFT JOIN sz s ON c.comp = s.comp)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) AS clusters,
        |  CAST(SUM(1000000 // csize) AS BIGINT) AS weight_mass_micro,
        |  CAST(MIN(1000000 // csize) AS BIGINT) AS min_weight_micro
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    // the PLAIN join: the Bloom prefilter must be output-invisible
    "x126_bloom_join" ->
      """SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
        |  COUNT(*) AS n, SUM(l.l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same fixpoint segmentation; fertility as pure BIGINT floor div
    "x119_bpe_fertility" -> (bpeCte +
      """,
        |ntok AS (SELECT word, MIN(len(syms)) AS n_tok FROM bpe GROUP BY word),
        |d AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents)
        |SELECT d.lang, COUNT(DISTINCT d.doc_id) AS docs, COUNT(*) AS words,
        |  CAST(SUM(n.n_tok) AS BIGINT) AS subword_tokens,
        |  CAST((CAST(SUM(n.n_tok) AS BIGINT) * 1000000) // COUNT(*) AS BIGINT)
        |    AS fertility_micro
        |FROM d JOIN ntok n ON d.word = n.word
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    // x5's oracle verbatim: the streamed store must equal the inline path
    "x120_ivf_stream" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  WHERE vec_id % 40 = 0 AND vec_id < 520),
        |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        |asg AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC, c.cid ASC) AS rn
        |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
        |probes AS (
        |  SELECT cid FROM cents, q
        |  ORDER BY list_cosine_similarity(qvec, cvec) DESC, cid ASC LIMIT 12)
        |SELECT a.vec_id, round(list_cosine_similarity(q.qvec, a.embedding), 6) AS sim
        |FROM asg a JOIN probes p ON a.cid = p.cid, q
        |WHERE a.vec_id != 0
        |ORDER BY sim DESC, a.vec_id ASC LIMIT 10""".stripMargin,
    // from_json PERMISSIVE nulls == json_valid guard + TRY_CAST
    "x116_props_extract" ->
      """WITH e AS (
        |  SELECT event_type, CASE WHEN json_valid(props)
        |    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(k) AS BIGINT) AS k_present,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // nearest-rank thresholds on the value-grouped relation, exact long sums
    "x117_winsorize" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |g AS (SELECT event_type, v, COUNT(*) AS cnt FROM q GROUP BY 1, 2),
        |c AS (SELECT event_type, v, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum FROM g),
        |t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |th AS (SELECT c.event_type,
        |    MIN(CASE WHEN cum >= (1*n + 99) // 100 THEN v END) AS lo,
        |    MIN(CASE WHEN cum >= (99*n + 99) // 100 THEN v END) AS hi
        |  FROM c JOIN t USING (event_type) GROUP BY c.event_type)
        |SELECT g.event_type, CAST(SUM(cnt) AS BIGINT) AS n,
        |  ANY_VALUE(lo) AS lo_micro, ANY_VALUE(hi) AS hi_micro,
        |  CAST(SUM(cnt * v) AS BIGINT) AS raw_sum_micro,
        |  CAST(SUM(cnt * greatest(least(v, hi), lo)) AS BIGINT) AS winsor_sum_micro,
        |  CAST(SUM(CASE WHEN v < lo THEN cnt ELSE 0 END) AS BIGINT) AS clipped_low,
        |  CAST(SUM(CASE WHEN v > hi THEN cnt ELSE 0 END) AS BIGINT) AS clipped_high
        |FROM g JOIN th ON g.event_type = th.event_type
        |GROUP BY g.event_type ORDER BY g.event_type""".stripMargin,
    // list_dot_product is f32-sequential like dot_f32 (bit-exact, verified)
    "x115_embedding_sanity" ->
      """WITH m AS (
        |  SELECT len(embedding) AS dim,
        |    COALESCE(list_aggregate(list_transform(embedding,
        |      x -> CASE WHEN isnan(x) OR isinf(x) THEN 1 ELSE 0 END), 'max'), 0) = 1 AS bad,
        |    COALESCE(list_aggregate(list_transform(embedding,
        |      x -> CASE WHEN x = 0 THEN 0 ELSE 1 END), 'max'), 0) = 0 AS z,
        |    list_dot_product(embedding, embedding) AS n2f
        |  FROM embeddings),
        |q AS (
        |  SELECT dim, bad, z, CASE WHEN NOT bad THEN
        |    CAST(floor(CAST(n2f AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT) END AS n2
        |  FROM m)
        |SELECT COUNT(*) AS n_vecs,
        |  CAST(MIN(dim) AS BIGINT) AS dim_min, CAST(MAX(dim) AS BIGINT) AS dim_max,
        |  CAST(SUM(CASE WHEN z THEN 1 ELSE 0 END) AS BIGINT) AS zero_vecs,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS nonfinite_vecs,
        |  MIN(n2) AS min_norm2_nano, MAX(n2) AS max_norm2_nano,
        |  CAST(SUM(CASE WHEN n2 < 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS sub_unit,
        |  CAST(SUM(CASE WHEN n2 > 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS super_unit
        |FROM q""".stripMargin,
    // same rule predicates as the Spark flags; kf_* partition docs with kept
    "x114_filter_funnel" ->
      """WITH d AS (
        |  SELECT string_split(lower(text), ' ') AS w, strlen(text) AS c
        |  FROM documents),
        |m AS (
        |  SELECT len(w) AS n, len(list_distinct(w)) AS u, c,
        |    list_max(list_transform(list_distinct(w),
        |      x -> len(list_filter(w, y -> y = x)))) AS dm
        |  FROM d),
        |f AS (
        |  SELECT (n >= 30) AS p_wc,
        |    (3*n <= c - n + 1 AND c - n + 1 <= 5*n) AS p_wlen,
        |    (2*u >= n) AS p_ttr,
        |    (10*dm <= n) AS p_dom
        |  FROM m)
        |SELECT COUNT(*) AS docs,
        |  CAST(SUM(CASE WHEN NOT p_wc THEN 1 ELSE 0 END) AS BIGINT) AS kf_wc,
        |  CAST(SUM(CASE WHEN p_wc AND NOT p_wlen THEN 1 ELSE 0 END) AS BIGINT) AS kf_wlen,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND NOT p_ttr THEN 1 ELSE 0 END) AS BIGINT) AS kf_ttr,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_ttr AND NOT p_dom THEN 1 ELSE 0 END) AS BIGINT) AS kf_dom,
        |  CAST(SUM(CASE WHEN NOT p_wc AND p_wlen AND p_ttr AND p_dom THEN 1 ELSE 0 END) AS BIGINT) AS only_wc,
        |  CAST(SUM(CASE WHEN p_wc AND NOT p_wlen AND p_ttr AND p_dom THEN 1 ELSE 0 END) AS BIGINT) AS only_wlen,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND NOT p_ttr AND p_dom THEN 1 ELSE 0 END) AS BIGINT) AS only_ttr,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_ttr AND NOT p_dom THEN 1 ELSE 0 END) AS BIGINT) AS only_dom,
        |  CAST(SUM(CASE WHEN p_wc AND p_wlen AND p_ttr AND p_dom THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM f""".stripMargin,
    "x113_boilerplate_apply" ->
      """WITH d AS (
        |  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_transform(range(1, len(w)//8 + 1),
        |      i -> struct_pack(pos := i,
        |        span := array_to_string(list_slice(w, (i-1)*8+1, (i-1)*8+8), ' ')))
        |    ELSE [] END) AS u
        |  FROM d),
        |occ AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM sp),
        |bp AS (
        |  SELECT span FROM occ GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS kept_text
        |  FROM occ WHERE span NOT IN (SELECT span FROM bp) GROUP BY doc_id),
        |cleaned AS (
        |  SELECT d.lang, COALESCE(array_to_string(list_filter(
        |    [COALESCE(kept.kept_text, ''),
        |     COALESCE(array_to_string(
        |       list_slice(d.w, (len(d.w)//8)*8+1, len(d.w)), ' '), '')],
        |    s -> s <> ''), ' '), '') AS text
        |  FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS kept_chars
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
    "x48_vocab_topk" ->
      """WITH e AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |  FROM documents)
        |SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        |FROM e GROUP BY word ORDER BY df DESC, tf DESC, word ASC LIMIT 20""".stripMargin,
    // x47's packing shape under the recursive-CTE BPE replay: per-word
    // subword counts joined back to the corpus word stream, then the same
    // prefix-sum pack assignment.
    "x68_bpe_seq_pack" -> (bpeCte +
      """,
        |ntok AS (SELECT word, MIN(len(syms)) AS n_tok FROM bpe GROUP BY word),
        |t AS (
        |  SELECT d.doc_id, SUM(n.n_tok) AS toks
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents) d
        |  JOIN ntok n ON d.word = n.word
        |  GROUP BY d.doc_id),
        |c AS (SELECT doc_id, toks, SUM(toks) OVER (ORDER BY doc_id) AS cum FROM t)
        |SELECT ((cum - toks) // 2048)::BIGINT AS pack_id, COUNT(*) AS docs,
        |  CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // The numericalized corpus fingerprint: ids ranked over the full unit
    // set (df desc, tf desc, tok asc — x71's order, unlimited), id sums
    // per language.
    "x72_bpe_numericalize" -> (bpeCte +
      """,
        |seg AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM bpe GROUP BY word),
        |e AS (
        |  SELECT d.doc_id, d.lang, unnest(s.syms) AS tok
        |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents) d
        |  JOIN seg s ON d.word = s.word),
        |vocab AS (
        |  SELECT tok, row_number() OVER (
        |    ORDER BY COUNT(DISTINCT doc_id) DESC, COUNT(*) DESC, tok ASC) AS id
        |  FROM e GROUP BY tok)
        |SELECT e.lang, COUNT(DISTINCT e.doc_id) AS docs, COUNT(*) AS tokens,
        |  CAST(SUM(v.id) AS BIGINT) AS id_sum
        |FROM e JOIN vocab v ON e.tok = v.tok
        |GROUP BY e.lang ORDER BY e.lang""".stripMargin),
    // the x72 vocabulary ranking with a 24-id cap: everything ranked
    // below the cap is UNK; census per lang
    "x107_unk_coverage" -> (bpeCte +
      """,
        |seg AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM bpe GROUP BY word),
        |e AS (
        |  SELECT d.doc_id, d.lang, unnest(s.syms) AS tok
        |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents) d
        |  JOIN seg s ON d.word = s.word),
        |vocab AS (
        |  SELECT tok, row_number() OVER (
        |    ORDER BY COUNT(DISTINCT doc_id) DESC, COUNT(*) DESC, tok ASC) AS id
        |  FROM e GROUP BY tok)
        |SELECT e.lang, COUNT(DISTINCT e.doc_id) AS docs, COUNT(*) AS tokens,
        |  CAST(SUM(CASE WHEN v.id > 24 THEN 1 ELSE 0 END) AS BIGINT) AS unk_tokens,
        |  COUNT(DISTINCT CASE WHEN v.id > 24 THEN e.doc_id END) AS docs_with_unk
        |FROM e JOIN vocab v ON e.tok = v.tok
        |GROUP BY e.lang ORDER BY e.lang""".stripMargin),
    // x48's census over SUBWORD units: the fixpoint segmentation (arg_min
    // on symbol count — lengths strictly decrease) unnested per word
    // occurrence.
    // per-batch scorecards computed directly from the doc_id % 3 slices —
    // a correct replay (guarded against the duplicate delivery) appends
    // exactly one row set per batch
    "x102_scorecard_stream" ->
      """WITH m AS (
        |  SELECT doc_id % 3 AS batch_id, source, text,
        |    string_split(lower(text), ' ') AS w, strlen(text) AS c
        |  FROM documents),
        |f AS (
        |  SELECT batch_id, source, md5(lower(trim(text))) AS fp,
        |    CAST(len(w) AS BIGINT) AS n,
        |    ((len(w) >= 30 AND len(w) <= 1000)
        |      AND (3*len(w) <= c - len(w) + 1 AND c - len(w) + 1 <= 12*len(w))
        |      AND (5*len(list_distinct(w)) >= len(w))
        |      AND (5*list_max(list_transform(list_distinct(w),
        |             x -> len(list_filter(w, y -> y = x)))) <= len(w))) AS ok
        |  FROM m)
        |SELECT batch_id, source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(SUM(n) AS BIGINT) AS tokens
        |FROM f GROUP BY batch_id, source ORDER BY batch_id, source""".stripMargin,
    // the x68 replay under the 8192-merge table: fixpoint segmentation per
    // distinct word, subword totals per language
    "x103_bpe_trainer_scale" -> ("WITH RECURSIVE\n" +
      bpeCteBody("documents", bpeMapLiteralFor(BpeOps.bigMerges)) +
      """,
        |ntok AS (SELECT word, MIN(len(syms)) AS n_tok FROM bpe GROUP BY word),
        |t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents)
        |SELECT t.lang, COUNT(DISTINCT t.doc_id) AS docs,
        |  CAST(SUM(n.n_tok) AS BIGINT) AS subword_tokens
        |FROM t JOIN ntok n ON t.word = n.word
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
    // x103's oracle with the 32,768-merge map literal
    "x155_bpe_32k" -> ("WITH RECURSIVE\n" +
      bpeCteBody("documents", bpeMapLiteralFor(BpeOps.bigMerges32k)) +
      """,
        |ntok AS (SELECT word, MIN(len(syms)) AS n_tok FROM bpe GROUP BY word),
        |t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents)
        |SELECT t.lang, COUNT(DISTINCT t.doc_id) AS docs,
        |  CAST(SUM(n.n_tok) AS BIGINT) AS subword_tokens
        |FROM t JOIN ntok n ON t.word = n.word
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
    "x71_bpe_vocab" -> (bpeCte +
      """,
        |seg AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM bpe GROUP BY word),
        |e AS (
        |  SELECT d.doc_id, unnest(s.syms) AS tok
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents) d
        |  JOIN seg s ON d.word = s.word)
        |SELECT tok, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        |FROM e GROUP BY tok ORDER BY df DESC, tf DESC, tok ASC LIMIT 20""".stripMargin),
    // x21's census shape over x46's split assignment: corpus = train
    // (bucket < 80), benchmark = test (bucket >= 90); val is out of scope.
    "x49_split_leakage" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bk,
        |    string_split(lower(text), ' ') AS w
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, lang, bk, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE bk >= 90),
        |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE bk < 80),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS shared
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |per AS (
        |  SELECT p.doc_id, p.lang, COALESCE(ov.shared, 0) AS shared
        |  FROM (SELECT doc_id, lang FROM shl WHERE bk < 80) p
        |  LEFT JOIN ov ON p.doc_id = ov.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN shared >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |       CAST(MAX(shared) AS BIGINT) AS max_overlap
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // x23's mixing oracle with temperature weights: w = round(sqrt(tokens)).
    "x50_mix_temperature" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |tot0 AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens_total
        |  FROM t GROUP BY source),
        |tot AS (
        |  SELECT source, n_docs, tokens_total,
        |         round(sqrt(CAST(tokens_total AS DOUBLE))) AS w
        |  FROM tot0),
        |sw AS (SELECT CAST(SUM(w) AS DOUBLE) AS sumw FROM tot),
        |r AS (
        |  SELECT source, n_docs, tokens_total,
        |         least(1.0, 10000.0 * w / sumw / tokens_total) AS rate
        |  FROM tot, sw),
        |k AS (
        |  SELECT t.source, t.toks, r.n_docs, r.tokens_total, r.rate,
        |         (('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0)
        |           < r.rate AS keep
        |  FROM t JOIN r ON t.source = r.source)
        |SELECT source, ANY_VALUE(n_docs) AS n_docs, ANY_VALUE(tokens_total) AS tokens_total,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(COALESCE(SUM(CASE WHEN keep THEN toks END), 0) AS BIGINT) AS tokens_kept,
        |       round(ANY_VALUE(rate), 6) AS rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // The whole production pipeline composed from its gated stages' CTEs:
    // the x42 funnel over the corpus split, the x51 exact decontamination
    // census shape (the Spark side runs the Bloom path — bit-identical by
    // construction), then the x55 CDC dedup/reassembly, censused per lang.
    "x69_production_corpus" -> (productionStagesCte +
      """,
        |cleaned AS (
        |  SELECT e2.lang, COALESCE(kept.kept_text, '') AS text
        |  FROM e2 LEFT JOIN kept ON e2.doc_id = kept.doc_id)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS kept_chars
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin),
    // The trainer-export composition END-TO-END: the production corpus,
    // split-assigned, train split packed under SUBWORD (BPE) budgets — the
    // x69 stages + x46's split gate + x68's recursive BPE replay + x47's
    // prefix-sum packing, composed.
    "x76_trainer_export" -> (productionStagesCte +
      """,
        |cleaned2 AS (
        |  SELECT e2.doc_id, COALESCE(kept.kept_text, '') AS text
        |  FROM e2 LEFT JOIN kept ON e2.doc_id = kept.doc_id),
        |train AS (
        |  SELECT doc_id, text FROM cleaned2
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 80),
        |""".stripMargin + bpeCteBody("train") +
      """,
        |ntok AS (SELECT word, MIN(len(syms)) AS n_tok FROM bpe GROUP BY word),
        |t AS (
        |  SELECT d.doc_id, SUM(n.n_tok) AS toks
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM train) d
        |  JOIN ntok n ON d.word = n.word
        |  GROUP BY d.doc_id),
        |c AS (SELECT doc_id, toks, SUM(toks) OVER (ORDER BY doc_id) AS cum FROM t)
        |SELECT ((cum - toks) // 2048)::BIGINT AS pack_id, COUNT(*) AS docs,
        |  CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // The CDC CTEs of x54 + x37's winner/reassembly shape: survivors =
    // first (doc_id, pos) per chunk, documents re-joined from their own
    // surviving chunks, census over the reassembled text.
    "x55_cdc_apply_corpus" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |b AS (
        |  SELECT doc_id, lang, w, len(w) AS n,
        |    CASE WHEN len(w) >= 3 THEN list_filter(range(3, len(w)+1),
        |      p -> ('0x' || substr(md5(array_to_string(list_slice(w, p-2, p), ' ')), 1, 8))::BIGINT % 8 = 0)
        |    ELSE [] END AS bp
        |  FROM d),
        |e AS (
        |  SELECT doc_id, lang, w, list_concat(list_concat([0::BIGINT], bp),
        |    CASE WHEN len(bp) > 0 AND bp[-1] = n THEN [] ELSE [n] END) AS ed
        |  FROM b),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ed)), i ->
        |    struct_pack(pos := i,
        |      chunk := array_to_string(list_slice(w, ed[i]+1, ed[i+1]), ' ')))) AS u
        |  FROM e),
        |k AS (
        |  SELECT doc_id, u.pos AS pos, u.chunk AS chunk, row_number() OVER (
        |    PARTITION BY u.chunk ORDER BY doc_id, u.pos) AS rn
        |  FROM c),
        |kept AS (
        |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS kept_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id),
        |cleaned AS (
        |  SELECT e.lang, COALESCE(kept.kept_text, '') AS text
        |  FROM e LEFT JOIN kept ON e.doc_id = kept.doc_id)
        |SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS kept_chars
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
    "x54_cdc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |b AS (
        |  SELECT doc_id, w, len(w) AS n,
        |    CASE WHEN len(w) >= 3 THEN list_filter(range(3, len(w)+1),
        |      p -> ('0x' || substr(md5(array_to_string(list_slice(w, p-2, p), ' ')), 1, 8))::BIGINT % 8 = 0)
        |    ELSE [] END AS bp
        |  FROM d),
        |e AS (
        |  SELECT doc_id, w, list_concat(list_concat([0::BIGINT], bp),
        |    CASE WHEN len(bp) > 0 AND bp[-1] = n THEN [] ELSE [n] END) AS ed
        |  FROM b),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ed)), i ->
        |    array_to_string(list_slice(w, ed[i]+1, ed[i+1]), ' '))) AS chunk
        |  FROM e),
        |g AS (SELECT chunk, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS nd FROM c GROUP BY chunk)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS total_chunks, COUNT(*) AS distinct_chunks,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
        |  CAST(MAX(nd) AS BIGINT) AS max_docs_sharing
        |FROM g""".stripMargin,
    "x53_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang, len(string_split(lower(text), ' ')) AS toks,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT, doc_id) AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM r WHERE rn <= 40 GROUP BY lang ORDER BY lang""".stripMargin,
    // Naive all-pairs containment — the exact spec the prefix-filtered
    // Spark operator must reproduce verbatim.
    "x52_containment" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS cont
        |  FROM shl a JOIN shl b ON a.doc_id != b.doc_id)
        |SELECT doc_a, doc_b, round(cont, 4) AS containment
        |FROM p WHERE cont >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    // x21's contamination definition, APPLIED: survivors = shared < 5;
    // the census aggregates the surviving documents themselves.
    "x51_decontaminate_apply" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, lang, text, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE doc_id % 97 != 0),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS shared
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |surv AS (
        |  SELECT p.lang, p.text
        |  FROM (SELECT doc_id, lang, text FROM shl WHERE doc_id % 97 != 0) p
        |  LEFT JOIN ov ON p.doc_id = ov.doc_id
        |  WHERE COALESCE(ov.shared, 0) < 5)
        |SELECT lang, COUNT(*) AS docs,
        |       CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens,
        |       CAST(SUM(strlen(text)) AS BIGINT) AS chars
        |FROM surv GROUP BY lang ORDER BY lang""".stripMargin,
    // ---- retrieval, sketches, versioning (round 6) ----
    "x56_bm25_topk" -> bm25OracleSql(Bm25Terms, 10, 1.2, 0.75),
    // x4's all-pairs pair derivation + the x34 recursive min-label walk +
    // the x38 anti-join — survivors grouped by label.
    "x57_semdedup_corpus" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4),
        |edges AS (SELECT va AS u, vb AS v FROM pairs
        |          UNION ALL SELECT vb, va FROM pairs),
        |walk(u, lbl) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.v, w.lbl FROM walk w JOIN edges e ON w.u = e.u WHERE w.lbl < e.v),
        |losers AS (SELECT u AS vec_id FROM walk GROUP BY u HAVING MIN(lbl) <> u)
        |SELECT label, COUNT(*) AS vecs, CAST(SUM(vec_id) AS BIGINT) AS id_sum
        |FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |GROUP BY label ORDER BY label""".stripMargin,
    "x58_corpus_diff" -> (newSnapshotSql +
      """,
        |o AS (SELECT doc_id, md5(text) AS h, len(text)::BIGINT AS l FROM documents),
        |nw AS (SELECT doc_id, md5(text) AS h, len(text)::BIGINT AS l FROM newsnap),
        |j AS (SELECT
        |    CASE WHEN o.h IS NULL THEN 'added' WHEN nw.h IS NULL THEN 'removed'
        |         WHEN o.h <> nw.h THEN 'changed' ELSE 'unchanged' END AS status,
        |    COALESCE(o.l, 0) AS lo, COALESCE(nw.l, 0) AS ln
        |  FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id)
        |SELECT status, COUNT(*) AS docs, CAST(SUM(lo) AS BIGINT) AS chars_old,
        |       CAST(SUM(ln) AS BIGINT) AS chars_new
        |FROM j GROUP BY status ORDER BY status""".stripMargin),
    // the sketch-content columns are order-dependent by design; the gated
    // verdict booleans are guaranteed by the MG invariants — see SearchOps
    "x59_heavy_tokens" ->
      """WITH occ AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |ex AS (SELECT tok, COUNT(*) AS cnt FROM occ GROUP BY tok)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS distinct_tokens,
        |       TRUE AS size_ok, TRUE AS heavy_present, TRUE AS estimates_bounded
        |FROM ex""".stripMargin,
    "x60_rare_tokens" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |dfk AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY tok),
        |pd AS (
        |  SELECT o.doc_id, o.lang, COUNT(*) AS n_tokens,
        |         CAST(SUM(df) AS BIGINT) AS sum_df
        |  FROM occ o JOIN dfk USING (tok) GROUP BY o.doc_id, o.lang)
        |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |       round(SUM(sum_df)::DOUBLE / SUM(n_tokens), 6) AS mean_df,
        |       CAST(SUM(CASE WHEN sum_df < n_tokens * 385 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS rare_docs
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    "x61_delta_reprocess" -> (newSnapshotSql +
      """,
        |o AS (SELECT doc_id, md5(text) AS h FROM documents),
        |delta AS (
        |  SELECT nw.lang, nw.text FROM newsnap nw
        |  LEFT JOIN o ON o.doc_id = nw.doc_id AND o.h = md5(nw.text)
        |  WHERE o.doc_id IS NULL)
        |SELECT lang, COUNT(*) AS docs,
        |       CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens,
        |       CAST(SUM(strlen(text)) AS BIGINT) AS chars
        |FROM delta GROUP BY lang ORDER BY lang""".stripMargin),
    "x62_similar_docs" ->
      """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM docs),
        |sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
        |q AS (SELECT s FROM sh WHERE doc_id = 8),
        |nq AS (SELECT len(sh) AS nq FROM shl WHERE doc_id = 8),
        |inter AS (
        |  SELECT sh.doc_id, COUNT(*) AS c FROM sh JOIN q USING (s)
        |  WHERE sh.doc_id <> 8 GROUP BY sh.doc_id)
        |SELECT i.doc_id, round(c::DOUBLE / (len(shl.sh) + nq.nq - c)::DOUBLE, 4) AS jaccard
        |FROM inter i JOIN shl ON shl.doc_id = i.doc_id, nq
        |ORDER BY jaccard DESC, i.doc_id LIMIT 10""".stripMargin,
    "x63_event_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
        |SELECT 1 AS stage, 'view' AS event_type, (SELECT COUNT(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY stage""".stripMargin,
    "x74_length_histogram" ->
      """WITH t AS (
        |  SELECT lang, len(string_split(lower(text), ' ')) AS toks FROM documents)
        |SELECT lang, length(bin(toks)) AS bucket, COUNT(*) AS docs,
        |  CAST(MIN(toks) AS BIGINT) AS min_toks, CAST(MAX(toks) AS BIGINT) AS max_toks,
        |  CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x78_source_overlap" ->
      """WITH d AS (
        |  SELECT source, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT source, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |ss AS (SELECT DISTINCT source, unnest(sh) AS s FROM shl),
        |sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
        |shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        |  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
        |FROM shared
        |JOIN sizes sa ON sa.source = shared.src_a
        |JOIN sizes sb ON sb.source = shared.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "x79_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM t WHERE len(ws) >= 2),
        |v AS (SELECT COUNT(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM t) u),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        |        FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |         CAST(floor(ln((n12 + 1.0) / (n1 + v)) * 1000000.0 + 0.5) AS BIGINT) AS w
        |  FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v),
        |sc AS (
        |  SELECT bi.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(-SUM(w) AS BIGINT) AS nll_micro
        |  FROM bi JOIN model ON bi.w1 = model.w1 AND bi.w2 = model.w2
        |  GROUP BY bi.doc_id)
        |SELECT doc_id, n_bigrams, nll_micro,
        |       CAST(nll_micro AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1000000.0) AS avg_nll
        |FROM sc ORDER BY doc_id""".stripMargin,
    "x80_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM t),
        |sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        |       FROM sh GROUP BY doc_id),
        |nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM
        |        (SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY s) f
        |       GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_shingles,
        |       COALESCE(nv.n_novel, 0) AS n_novel,
        |       CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / CAST(pd.n_shingles AS DOUBLE) AS novelty
        |FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id ORDER BY pd.doc_id""".stripMargin,
    "x81_nb_quality" -> (nbScoreSql +
      """
        |SELECT doc_id, weak_good, n_toks, llr_micro, pred_good
        |FROM scored ORDER BY doc_id""".stripMargin),
    "x89_nb_confusion" -> (nbScoreSql +
      """,
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN weak_good AND pred_good THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT weak_good AND pred_good THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN weak_good AND NOT pred_good THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT weak_good AND NOT pred_good THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored),
        |k AS (SELECT tp, fp, fn, tn,
        |    CAST(CAST(tp + fp + fn + tn AS HUGEINT) * (tp + tn)
        |      - (CAST(tp + fp AS HUGEINT) * (tp + fn)
        |         + CAST(fn + tn AS HUGEINT) * (fp + tn)) AS BIGINT) AS kappa_num,
        |    CAST(CAST(tp + fp + fn + tn AS HUGEINT) * (tp + fp + fn + tn)
        |      - (CAST(tp + fp AS HUGEINT) * (tp + fn)
        |         + CAST(fn + tn AS HUGEINT) * (fp + tn)) AS BIGINT) AS kappa_den
        |  FROM c)
        |SELECT tp, fp, fn, tn,
        |       CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS accuracy,
        |       kappa_num, kappa_den,
        |       CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE) AS kappa
        |FROM k""".stripMargin),
    "x90_nb_auc" -> (nbScoreSql +
      """,
        |bys AS (
        |  SELECT llr_micro,
        |         CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT) AS np_s,
        |         CAST(SUM(CASE WHEN NOT weak_good THEN 1 ELSE 0 END) AS BIGINT) AS nn_s
        |  FROM scored GROUP BY llr_micro),
        |cum AS (SELECT llr_micro, np_s, nn_s,
        |          CAST(SUM(nn_s) OVER (ORDER BY llr_micro) AS BIGINT) AS nn_cum
        |        FROM bys),
        |agg AS (SELECT CAST(SUM(np_s) AS BIGINT) AS np, CAST(SUM(nn_s) AS BIGINT) AS nn,
        |          CAST(SUM(CAST(np_s AS HUGEINT)
        |            * (2 * (nn_cum - nn_s) + nn_s)) AS BIGINT) AS u2
        |        FROM cum)
        |SELECT np, nn, u2,
        |       CAST(u2 AS DOUBLE) / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc
        |FROM agg""".stripMargin),
    "x91_nb_calibration" -> (nbScoreSql +
      """,
        |rk AS (SELECT doc_id, weak_good, llr_micro,
        |         CAST(NTILE(10) OVER (ORDER BY llr_micro, doc_id) AS BIGINT) AS decile
        |       FROM scored)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS docs,
        |       CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT) AS positives,
        |       CAST(MIN(llr_micro) AS BIGINT) AS lo_micro,
        |       CAST(MAX(llr_micro) AS BIGINT) AS hi_micro,
        |       CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        |FROM rk GROUP BY decile ORDER BY decile""".stripMargin),
    "x93_nb_brier" -> (nbScoreSql +
      """,
        |se AS (
        |  SELECT weak_good,
        |    CAST(floor(
        |      (1.0 / (1.0 + exp(-CAST(llr_micro AS DOUBLE) / 1000000.0))
        |        - CASE WHEN weak_good THEN 1.0 ELSE 0.0 END)
        |      * (1.0 / (1.0 + exp(-CAST(llr_micro AS DOUBLE) / 1000000.0))
        |        - CASE WHEN weak_good THEN 1.0 ELSE 0.0 END)
        |      * 1000000.0 + 0.5) AS BIGINT) AS se_micro
        |  FROM scored)
        |SELECT weak_good, CAST(COUNT(*) AS BIGINT) AS docs,
        |       CAST(SUM(se_micro) AS BIGINT) AS se_sum_micro,
        |       CAST(CAST(SUM(se_micro) AS BIGINT) AS DOUBLE)
        |         / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS brier
        |FROM se GROUP BY weak_good ORDER BY weak_good""".stripMargin),
    "x92_fuzzy_pairs" ->
      """WITH heads AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(string_split(lower(text), ' '), 1, 8), ' ')
        |           AS head,
        |         array_to_string(list_slice(string_split(lower(text), ' '), 1, 2), ' ')
        |           AS blk
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         levenshtein(a.head, b.head) AS dist
        |  FROM heads a JOIN heads b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |  WHERE abs(strlen(a.head) - strlen(b.head)) <= 8)
        |SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS pairs,
        |       CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS left_docs,
        |       CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS right_docs
        |FROM pairs WHERE dist <= 8 GROUP BY dist ORDER BY dist""".stripMargin,
    "x96_nb_ece" -> (nbScoreSql +
      """,
        |pm AS (SELECT doc_id, weak_good, llr_micro,
        |         CAST(floor((1.0 / (1.0 + exp(-CAST(llr_micro AS DOUBLE) / 1000000.0)))
        |           * 1000000.0 + 0.5) AS BIGINT) AS p_micro
        |       FROM scored),
        |rk AS (SELECT weak_good, p_micro,
        |         CAST(NTILE(10) OVER (ORDER BY llr_micro, doc_id) AS BIGINT) AS decile
        |       FROM pm),
        |per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_b,
        |          CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT) AS pos_b,
        |          CAST(SUM(p_micro) AS BIGINT) AS sp_b
        |        FROM rk GROUP BY decile),
        |g AS (SELECT n_b, abs(pos_b * 1000000 - sp_b) AS gap_num FROM per)
        |SELECT CAST(SUM(n_b) AS BIGINT) AS docs,
        |       CAST(SUM(gap_num) AS BIGINT) AS ece_num_micro,
        |       CAST(CAST(SUM(gap_num) AS BIGINT) AS DOUBLE)
        |         / (CAST(SUM(n_b) AS DOUBLE) * 1000000.0) AS ece,
        |       MAX(CAST(gap_num AS DOUBLE) / (CAST(n_b AS DOUBLE) * 1000000.0)) AS mce
        |FROM g""".stripMargin),
    "x101_burstiness" ->
      """WITH cnt AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |st AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
        |         CAST(SUM(c) AS BIGINT) AS s1,
        |         SUM(CAST(c AS HUGEINT) * c) AS s2
        |       FROM cnt GROUP BY w)
        |SELECT w, df, s1, CAST(s2 AS BIGINT) AS s2,
        |  CAST(floor(
        |    (CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
        |      / CAST(n * CAST(s1 AS HUGEINT) AS DOUBLE)) * 1000000.0 + 0.5)
        |    AS BIGINT) AS vmr_micro
        |FROM st CROSS JOIN n
        |ORDER BY vmr_micro DESC, w LIMIT 20""".stripMargin,
    "x100_nb_prf" -> (nbScoreSql +
      """,
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN weak_good AND pred_good THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT weak_good AND pred_good THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN weak_good AND NOT pred_good THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT weak_good AND NOT pred_good THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS p_good,
        |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS r_good,
        |  CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE) AS f1_good,
        |  CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE) AS p_bad,
        |  CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) AS r_bad,
        |  CAST(2*tn AS DOUBLE) / CAST(2*tn + fn + fp AS DOUBLE) AS f1_bad,
        |  (CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
        |    + CAST(2*tn AS DOUBLE) / CAST(2*tn + fn + fp AS DOUBLE)) / 2.0 AS macro_f1
        |FROM c""".stripMargin),
    "x99_token_entropy" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |cnt AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM occ GROUP BY doc_id, w),
        |per AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
        |    CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sce_micro
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_toks, sce_micro,
        |  n_toks * CAST(floor(ln(CAST(n_toks AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |    - sce_micro AS ent_num,
        |  CAST(n_toks * CAST(floor(ln(CAST(n_toks AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |    - sce_micro AS DOUBLE) / (CAST(n_toks AS DOUBLE) * 1000000.0) AS entropy
        |FROM per ORDER BY doc_id""".stripMargin,
    "x98_source_scorecard" ->
      """WITH m AS (
        |  SELECT source, text, string_split(lower(text), ' ') AS w, strlen(text) AS c
        |  FROM documents),
        |f AS (
        |  SELECT source, md5(lower(trim(text))) AS fp, CAST(len(w) AS BIGINT) AS n,
        |    ((len(w) >= 30 AND len(w) <= 1000)
        |      AND (3*len(w) <= c - len(w) + 1 AND c - len(w) + 1 <= 12*len(w))
        |      AND (5*len(list_distinct(w)) >= len(w))
        |      AND (5*list_max(list_transform(list_distinct(w),
        |             x -> len(list_filter(w, y -> y = x)))) <= len(w))) AS ok
        |  FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS dup_rate,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
        |  CAST(SUM(n) AS BIGINT) AS tokens,
        |  CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_tokens
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "x97_zipf_slope" ->
      """WITH occ AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY w),
        |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 1000),
        |rk AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
        |       FROM top),
        |pts AS (SELECT
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
        |  FROM rk),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_fit,
        |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx
        |      FROM pts)
        |SELECT k_fit,
        |  CAST(k_fit * sxy - sx * sy AS DOUBLE)
        |    / CAST(k_fit * sxx - sx * sx AS DOUBLE) AS slope,
        |  ((CAST(sy AS DOUBLE)
        |      - (CAST(k_fit * sxy - sx * sy AS DOUBLE)
        |         / CAST(k_fit * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(k_fit AS DOUBLE)) / 1000000.0 AS intercept
        |FROM m""".stripMargin,
    "x95_jaro_pairs" ->
      """WITH heads AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(string_split(lower(text), ' '), 1, 8), ' ')
        |           AS head,
        |         array_to_string(list_slice(string_split(lower(text), ' '), 1, 2), ' ')
        |           AS blk
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(floor(jaro_winkler_similarity(a.head, b.head) * 1000000.0 + 0.5)
        |           AS BIGINT) AS sim_micro
        |  FROM heads a JOIN heads b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |SELECT sim_micro, CAST(COUNT(*) AS BIGINT) AS pairs,
        |       CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS left_docs,
        |       CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS right_docs
        |FROM pairs WHERE sim_micro >= 900000
        |GROUP BY sim_micro ORDER BY sim_micro""".stripMargin,
    "x94_vocab_growth" ->
      """WITH thr AS (SELECT CAST(1 << k AS BIGINT) AS t FROM range(4, 21) r(k)),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |fo AS (SELECT w, CAST(MIN(doc_id) AS BIGINT) AS fd FROM toks GROUP BY w),
        |va AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS vocab
        |       FROM fo JOIN thr ON fd < t GROUP BY t),
        |dt AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
        |         AS n_toks FROM documents),
        |ta AS (SELECT t, CAST(SUM(n_toks) AS BIGINT) AS tokens,
        |              CAST(COUNT(*) AS BIGINT) AS docs
        |       FROM dt JOIN thr ON doc_id < t GROUP BY t)
        |SELECT ta.t, docs, tokens, vocab,
        |       CAST(vocab AS DOUBLE) / CAST(tokens AS DOUBLE) AS ttr
        |FROM ta JOIN va ON ta.t = va.t ORDER BY ta.t""".stripMargin,
    "x82_source_drift" ->
      """WITH occ AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |cs AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
        |       FROM occ GROUP BY source, w),
        |cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM cs GROUP BY w),
        |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM cs GROUP BY source),
        |n AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw),
        |terms AS (
        |  SELECT cs.source, n_s,
        |    CAST(c_sw AS HUGEINT) * CAST(floor(ln((c_sw * 1.0 * n) / (n_s * 1.0 * c_w))
        |      * 1000000.0 + 0.5) AS BIGINT) AS term
        |  FROM cs JOIN cw ON cs.w = cw.w JOIN ns ON cs.source = ns.source CROSS JOIN n)
        |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS vocab_terms,
        |       CAST(SUM(term) AS BIGINT) AS kl_micro,
        |       CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)
        |         / (CAST(MAX(n_s) AS DOUBLE) * 1000000.0) AS kl_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "x83_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, (source = 'src0') AS is_target,
        |         unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w, CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |         CAST(COUNT(*) AS BIGINT) AS cr
        |  FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
        |               CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        |model AS (
        |  SELECT w, CAST(floor((ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS wt
        |  FROM vocab CROSS JOIN tot)
        |SELECT doc_id, is_target, CAST(COUNT(*) AS BIGINT) AS n_toks,
        |       CAST(SUM(wt) AS BIGINT) AS logratio_micro,
        |       CAST(CAST(SUM(wt) AS BIGINT) AS DOUBLE)
        |         / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_logratio
        |FROM toks JOIN model ON toks.w = model.w
        |GROUP BY doc_id, is_target ORDER BY doc_id""".stripMargin,
    "x84_ppl_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |  FROM t WHERE len(ws) >= 2),
        |v AS (SELECT COUNT(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM t) u),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        |        FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |         CAST(floor(ln((n12 + 1.0) / (n1 + v)) * 1000000.0 + 0.5) AS BIGINT) AS w
        |  FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v),
        |sc AS (
        |  SELECT bi.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         CAST(-SUM(w) AS BIGINT) AS nll_micro
        |  FROM bi JOIN model ON bi.w1 = model.w1 AND bi.w2 = model.w2
        |  GROUP BY bi.doc_id),
        |rk AS (SELECT doc_id, n_bigrams, nll_micro,
        |         CAST(NTILE(3) OVER (ORDER BY nll_micro, doc_id) AS BIGINT) AS bucket
        |       FROM sc)
        |SELECT d.doc_id,
        |       COALESCE(rk.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(rk.nll_micro, 0) AS nll_micro,
        |       COALESCE(rk.bucket, 0) AS bucket,
        |       CASE rk.bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |         WHEN 3 THEN 'tail' ELSE 'unscored' END AS label
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN rk ON d.doc_id = rk.doc_id ORDER BY d.doc_id""".stripMargin,
    "x85_tfidf_keywords" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM occ GROUP BY doc_id, term),
        |dfp AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, tf.term, tf.tf, df,
        |         tf.tf * CAST(floor(ln((n_docs + 1.0) / (df + 1.0)) * 1000000.0 + 0.5)
        |           AS BIGINT) AS score_micro
        |  FROM tf JOIN dfp ON tf.term = dfp.term CROSS JOIN nd),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score_micro DESC, term) AS BIGINT) AS rank FROM sc)
        |SELECT doc_id, rank, term, tf, df, score_micro
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "x86_pmi_collocations" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM (SELECT unnest(ws) AS w FROM t) u GROUP BY w),
        |nu AS (SELECT CAST(SUM(n) AS BIGINT) AS n_uni FROM uni),
        |bi AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
        |              unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        |       FROM t WHERE len(ws) >= 2),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        |        FROM bi GROUP BY w1, w2),
        |nb AS (SELECT CAST(SUM(n12) AS BIGINT) AS n_bi FROM c12)
        |SELECT c12.w1, c12.w2, n12, u1.n AS n1, u2.n AS n2,
        |       CAST(floor(ln((n12 * 1.0 * n_uni * n_uni)
        |         / (n_bi * 1.0 * u1.n * u2.n)) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
        |FROM c12 JOIN uni u1 ON c12.w1 = u1.w JOIN uni u2 ON c12.w2 = u2.w
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE n12 >= 5
        |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin,
    "x87_novelty_sample" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM t),
        |sh AS (SELECT doc_id, unnest(sh) AS s FROM shl),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        |       FROM sh GROUP BY doc_id),
        |nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM
        |        (SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY s) f
        |       GROUP BY doc_id),
        |novdoc AS (SELECT pd.doc_id, pd.n_shingles, COALESCE(nv.n_novel, 0) AS n_novel
        |           FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id),
        |k AS (
        |  SELECT d.lang, d.text,
        |    (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS HUGEINT)
        |       * n_shingles
        |     < CAST(n_novel AS HUGEINT) * 1152921504606846976) AS keep
        |  FROM documents d JOIN novdoc ON d.doc_id = novdoc.doc_id)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |       CAST(SUM(CASE WHEN keep THEN len(string_split(lower(text), ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens,
        |       CAST(SUM(CASE WHEN keep THEN strlen(text) ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "x88_drift_vs_ref" -> (newSnapshotSql +
      """,
        |cur AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw FROM
        |         (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |          FROM documents) o GROUP BY source, w),
        |rf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_ref FROM
        |        (SELECT unnest(string_split(lower(text), ' ')) AS w FROM newsnap) o
        |       GROUP BY w),
        |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM cur GROUP BY source),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM
        |       (SELECT w FROM cur UNION SELECT w FROM rf) u),
        |nr AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref FROM rf),
        |terms AS (
        |  SELECT cur.source, n_s, c_ref,
        |    CAST(c_sw AS HUGEINT) * CAST(floor(ln((c_sw * 1.0 * (n_ref + v))
        |      / (n_s * 1.0 * (COALESCE(c_ref, 0) + 1))) * 1000000.0 + 0.5) AS BIGINT) AS term
        |  FROM cur LEFT JOIN rf ON cur.w = rf.w JOIN ns ON cur.source = ns.source
        |  CROSS JOIN v CROSS JOIN nr)
        |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS vocab_terms,
        |       CAST(SUM(CASE WHEN c_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_terms,
        |       CAST(SUM(term) AS BIGINT) AS kl_micro,
        |       CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)
        |         / (CAST(MAX(n_s) AS DOUBLE) * 1000000.0) AS kl_nats
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),
    // x88 replayed PER BATCH (batch = doc_id % 3): every per-source stat,
    // the corpus vocab union v, and therefore the KL smoothing change per
    // batch — exactly what the cross-batch-stateless monitor computes.
    "x106_drift_stream" -> (newSnapshotSql +
      """,
        |cur AS (SELECT batch_id, source, w, CAST(COUNT(*) AS BIGINT) AS c_sw FROM
        |         (SELECT doc_id % 3 AS batch_id, source,
        |            unnest(string_split(lower(text), ' ')) AS w
        |          FROM documents) o GROUP BY batch_id, source, w),
        |rf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_ref FROM
        |        (SELECT unnest(string_split(lower(text), ' ')) AS w FROM newsnap) o
        |       GROUP BY w),
        |ns AS (SELECT batch_id, source, CAST(SUM(c_sw) AS BIGINT) AS n_s
        |       FROM cur GROUP BY batch_id, source),
        |vv AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS v FROM
        |        (SELECT batch_id, w FROM cur
        |         UNION
        |         SELECT b.batch_id, rf.w
        |         FROM (SELECT DISTINCT batch_id FROM cur) b CROSS JOIN rf) u
        |       GROUP BY batch_id),
        |nr AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref FROM rf),
        |terms AS (
        |  SELECT cur.batch_id, cur.source, n_s, c_ref,
        |    CAST(c_sw AS HUGEINT) * CAST(floor(ln((c_sw * 1.0 * (n_ref + v))
        |      / (n_s * 1.0 * (COALESCE(c_ref, 0) + 1))) * 1000000.0 + 0.5) AS BIGINT) AS term
        |  FROM cur LEFT JOIN rf ON cur.w = rf.w
        |  JOIN ns ON cur.batch_id = ns.batch_id AND cur.source = ns.source
        |  JOIN vv ON cur.batch_id = vv.batch_id
        |  CROSS JOIN nr)
        |SELECT batch_id, source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS vocab_terms,
        |       CAST(SUM(CASE WHEN c_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_terms,
        |       CAST(SUM(term) AS BIGINT) AS kl_micro,
        |       CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE)
        |         / (CAST(MAX(n_s) AS DOUBLE) * 1000000.0) AS kl_nats
        |FROM terms GROUP BY batch_id, source ORDER BY batch_id, source""".stripMargin),
    "x77_spike_census" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c*c) AS qq
        |  FROM daily GROUP BY 1)
        |SELECT d.event_type, CAST(MAX(n) AS BIGINT) AS days,
        |  CAST(SUM(CASE WHEN (n*c - s) > 0
        |    AND (n*c - s)*(n*c - s) >= 4*(n*qq - s*s) THEN 1 ELSE 0 END) AS BIGINT) AS spikes,
        |  CAST(MAX(c) AS BIGINT) AS max_daily
        |FROM daily d JOIN stats USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x75_retention_cohorts" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id)
        |SELECT c.cohort_day, (a.day - c.cohort_day) AS "offset",
        |  COUNT(DISTINCT a.user_id) AS users
        |FROM active a JOIN cohorts c ON a.user_id = c.user_id
        |WHERE (a.day - c.cohort_day) <= 30
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x64_cube_census" ->
      """WITH b AS (
        |  SELECT lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bk,
        |    len(string_split(lower(text), ' ')) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
        |              ELSE 'test' END AS split, lang, toks
        |  FROM b)
        |SELECT COALESCE(split, '(all)') AS split, COALESCE(lang, '(all)') AS lang,
        |       COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens
        |FROM s GROUP BY CUBE (split, lang) ORDER BY 1, 2""".stripMargin,
    // Identical to x21's oracle BY DESIGN: the Bloom prefilter must be
    // invisible in the output — no false negatives, false positives killed
    // by the exact confirm join.
    "x65_decontaminate_bloom" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
        |shl AS (
        |  SELECT doc_id, lang, list_distinct(CASE WHEN len(w) >= 3
        |    THEN list_transform(range(1, len(w)-1), i -> array_to_string(list_slice(w, i, i+2), ' '))
        |    ELSE [array_to_string(w, ' ')] END) AS sh
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM shl WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, unnest(sh) AS s FROM shl WHERE doc_id % 97 != 0),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS shared
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |per AS (
        |  SELECT p.doc_id, p.lang, COALESCE(ov.shared, 0) AS shared
        |  FROM (SELECT doc_id, lang FROM shl WHERE doc_id % 97 != 0) p
        |  LEFT JOIN ov ON p.doc_id = ov.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN shared >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |       CAST(MAX(shared) AS BIGINT) AS max_overlap
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "x66_lang_pivot" ->
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x67_corpus_checksum" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  bit_xor(('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT) AS row_xor
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )

  /** x81's NB train-and-score pipeline as a DuckDB CTE chain ending in
    * `scored(doc_id, weak_good, n_toks, llr_micro, pred_good)` — shared by
    * the x81 gate and the x89/x90/x91 evaluation queries so all four
    * replay the IDENTICAL model. */
  private val nbScoreSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w, strlen(text) AS c
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, w, len(w) AS n, len(list_distinct(w)) AS u, c,
      |    list_max(list_transform(list_distinct(w),
      |      x -> len(list_filter(w, y -> y = x)))) AS dm
      |  FROM d),
      |lab AS (
      |  SELECT doc_id, w,
      |    ((n >= 30 AND n <= 1000) AND (3*n <= c - n + 1 AND c - n + 1 <= 12*n)
      |      AND (5*u >= n) AND (5*dm <= n)) AS weak_good
      |  FROM m),
      |toks AS (SELECT doc_id, weak_good, unnest(w) AS tok FROM lab),
      |vocab AS (
      |  SELECT tok, CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT) AS cg,
      |         CAST(SUM(CASE WHEN NOT weak_good THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng, CAST(SUM(cb) AS BIGINT) AS nb,
      |               CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
      |dcnt AS (
      |  SELECT CAST(SUM(CASE WHEN weak_good THEN 1 ELSE 0 END) AS BIGINT) AS dg,
      |         CAST(SUM(CASE WHEN NOT weak_good THEN 1 ELSE 0 END) AS BIGINT) AS db
      |  FROM lab),
      |model AS (
      |  SELECT tok, CAST(floor((ln((cg + 1.0) / (ng + v)) - ln((cb + 1.0) / (nb + v)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS wt
      |  FROM vocab CROSS JOIN tot),
      |prior AS (
      |  SELECT CAST(floor((ln((dg + 1.0) / (dg + db + 2)) - ln((db + 1.0) / (dg + db + 2)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS prior_micro
      |  FROM dcnt),
      |sc AS (
      |  SELECT doc_id, weak_good, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |         CAST(SUM(wt) AS BIGINT) AS tok_micro
      |  FROM toks JOIN model ON toks.tok = model.tok GROUP BY doc_id, weak_good),
      |scored AS (
      |  SELECT doc_id, weak_good, n_toks,
      |         (tok_micro + prior_micro) AS llr_micro,
      |         (tok_micro + prior_micro) > 0 AS pred_good
      |  FROM sc CROSS JOIN prior)""".stripMargin

  /** x58/x61's v2-snapshot derivation as a DuckDB CTE — must mirror
    * [[newSnapshot]] exactly. */
  private val newSnapshotSql: String =
    """WITH newsnap AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, 'new doc ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 17 = 0)""".stripMargin

  /** x56's oracle: the SAME fixed-order IEEE double chain as
    * [[SearchOps.bm25TopK]], constants interpolated from the identical
    * Scala expressions so both engines parse the identical literals. */
  /** x132's oracle: the SAME integral power iteration as
    * `SearchOps.textRankKeywords`, its rounds UNROLLED as chained CTEs
    * (recursive CTEs cannot aggregate in the recursive term); per-edge
    * floors in HUGEINT mirror the engine's DECIMAL(38,0) products. */
  private def textRankOracleSql(iters: Int, k: Int): String = {
    val base =
      """WITH d AS (
        |  SELECT string_split(lower(text), ' ') AS w FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |a0 AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> struct_pack(u := w[i], v := w[i+1]))) AS p
        |  FROM d),
        |adj AS (SELECT p.u AS u, p.v AS v FROM a0 WHERE p.u <> p.v),
        |edges AS (
        |  SELECT u, v, COUNT(*)::BIGINT AS w FROM (
        |    SELECT u, v FROM adj UNION ALL SELECT v, u FROM adj) GROUP BY u, v),
        |ow AS (SELECT u, CAST(SUM(w) AS BIGINT) AS tw FROM edges GROUP BY u),
        |ew AS (SELECT e.u, e.v, e.w, o.tw FROM edges e JOIN ow o ON e.u = o.u),
        |pr0 AS (SELECT DISTINCT u AS word, CAST(1000000 AS BIGINT) AS r FROM edges)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT e.v AS word, CAST(150000 + SUM(
         |      (85::HUGEINT * p.r * e.w) // (100::HUGEINT * e.tw)) AS BIGINT) AS r
         |  FROM ew e JOIN pr${i - 1} p ON e.u = p.word GROUP BY e.v)""".stripMargin
    }
    base + ",\n" + rounds.mkString(",\n") +
      s"\nSELECT word, r AS rank_micro FROM pr$iters ORDER BY rank_micro DESC, word LIMIT $k"
  }

  private def bm25OracleSql(terms: Seq[String], k: Int, k1: Double, b: Double): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t'))::BIGINT AS tf$i"
    }.mkString(",\n    ")
    val dfs = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val score = terms.indices.map { i =>
      s"(n - df$i + 0.5) / (df$i + 0.5) * (tf$i * ${k1 + 1}) / " +
        s"(tf$i + $k1 * (${1 - b} + $b * (dl / (sumdl / n))))"
    }.mkString(" + ")
    val anyHit = terms.indices.map(i => s"tf$i").mkString(" + ") + " > 0"
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |t AS (SELECT doc_id, len(w)::BIGINT AS dl,
       |    $tfs
       |  FROM d),
       |s AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl, $dfs FROM t)
       |SELECT doc_id, round($score, 4) AS score
       |FROM t, s WHERE $anyHit
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }
}
