package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarityF32
import graft.sources.{IdempotentAppend, Maintenance}

/**
 * Similarity search over the `embeddings` table (`array<float>`, 64-dim) and
 * the multimodal join (SURVEY.md §2.3 E2/E4, §2.4).
 *
 * All cosine math goes through the codegen'd [[CosineSimilarityF32]]
 * expression (bit-compatible with the DuckDB oracle, see its scaladoc).
 *
 * Scale design:
 *  - [[topkCosine]] — brute-force scan of the corpus against a broadcast
 *    query vector; `orderBy(...).limit(k)` plans as TakeOrderedAndProject
 *    (per-partition top-k, no global sort) — the exact-baseline path.
 *  - [[annIvf]] — IVF-style two-stage search: assign every vector to its
 *    nearest centroid (small broadcast centroid table), probe only the
 *    `nProbe` centroids nearest the query. At 100 TB the assignment is a
 *    one-off (stored, partitioned by centroid id → probing is partition
 *    pruning); here it is computed inline for determinism.
 */
object SimilarityOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[operators] def cos(a: Column, b: Column): Column =
    call_function("cosine_f32", a, b)

  /** DuckDB-parity rounding: round in float32 space, promote to double. */
  private[operators] def round6f(sim: Column): Column =
    (round(sim.cast("double") * lit(1e6)) / lit(1e6)).cast("float").cast("double")

  /** E2: exact top-k cosine neighbours of `queryVecId` (excluded from results). */
  def topkCosine(embeddings: DataFrame, queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
    embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round6f(cos(col("qvec"), col("embedding"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * x124: hard-negative mining for contrastive training — for each query
   * vector, the top-k most-similar corpus vectors with a DIFFERENT label
   * (high-similarity different-class examples are what a contrastive /
   * retriever loss needs; easy negatives teach nothing). The query batch is
   * a deterministic fixed-size slice (`vec_id % queryMod, capped below
   * `queryCap`), so scaling the corpus scales the work LINEARLY: each
   * corpus row streams once against the broadcast query batch.
   *
   * Scale shape: one broadcast nested-loop of corpus × O(queryCap/queryMod)
   * queries with the codegen'd cosine, then per-query top-k via
   * [[graft.plans.TopKPerGroup.topKPerGroup]] — few groups × many rows is
   * exactly the wide-group regime where the bounded-heap aggregate beats a
   * window sort 8× (TopKPerGroupBenchSpec). At 100 TB you'd source the
   * candidates from the IVF index ([[queryIvfIndex]]) per query instead of
   * the full scan; the scan form is the exact baseline the ANN path is
   * measured against, same contract as [[topkCosine]] vs [[annIvf]].
   */
  def hardNegatives(
      embeddings: DataFrame,
      queryMod: Int = 50,
      queryCap: Long = 5000L,
      k: Int = 5): DataFrame = {
    require(queryMod > 0 && k >= 1, "need positive queryMod and k >= 1")
    val q = embeddings
      .filter(col("vec_id") % queryMod === 0 && col("vec_id") < queryCap)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        col("label").as("qlab"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlab") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round6f(cos(col("qvec"), col("embedding"))).as("sim"))
    graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq("q_id"), Seq(("sim", false), ("vec_id", true)), k)
      .orderBy(col("q_id"), col("rn"))
  }

  /**
   * x139: per-label centroid drift census — how far each label's embedding
   * centroid sits from the global centroid, the class-conditional
   * embedding-health monitor (a label whose centroid collapses toward the
   * global mean has lost its cluster; one that runs away is drifting).
   *
   * Exact-integer determinism for a MEAN of floats: each dimension is
   * micro-quantized once (`⌊x·1e6+0.5⌋`, identical IEEE double from the
   * f32 in both engines), so per-label per-dim SUMS are exact longs and
   * order-free. The squared centroid distance avoids dividing those sums:
   * with `S_ld` the label's dim sum, `G_d` the global, `n_l`/`N` counts,
   *   dist²_d = ((N·S_ld − n_l·G_d)² ) div (n_l·N)²   [micro² units]
   * — products in DECIMAL(38,0) (they overflow longs by design), one
   * integral division per dimension, then a 64-term exact sum. Both
   * engines replay the identical integer sequence; no sqrt, no mean.
   *
   * Scale shape: one posexplode scan (corpus × dims rows — the standard
   * dense-vector aggregation layout), one (label, dim) hash aggregation
   * with map-side partials, then everything runs on #labels·dims rows.
   */
  def labelCentroidDrift(embeddings: DataFrame): DataFrame = {
    val lab = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val glob = lab.groupBy(col("pos"))
      .agg(sum(col("s")).as("g"), sum(col("n")).as("big_n"))
    lab.join(broadcast(glob), "pos")
      .select(col("label"), col("n"), expr(
        """CAST((CAST(big_n AS DECIMAL(38,0)) * s - CAST(n AS DECIMAL(38,0)) * g)
          |  * (CAST(big_n AS DECIMAL(38,0)) * s - CAST(n AS DECIMAL(38,0)) * g)
          |  DIV (CAST(n AS DECIMAL(38,0)) * big_n
          |    * CAST(n AS DECIMAL(38,0)) * big_n) AS BIGINT)""".stripMargin).as("d2"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"), sum(col("d2")).as("dist2_micro2"))
      .orderBy(col("label"))
  }

  /**
   * x144: Gram-matrix top-k — the most-correlated embedding dimension
   * pairs, the redundancy audit run before dimensionality reduction (two
   * dimensions whose corpus-wide dot product is large carry overlapping
   * signal; for ~zero-mean unit embeddings the uncentered Gram entry is
   * ~the covariance). A genuinely distributed dense-linear-algebra shape:
   * `G = Σ_v x_v·x_vᵀ` computed as a per-vector dimension self-join —
   * each vector contributes its C(dims, 2) upper-triangle products, keyed
   * joins only, map-side-combinable into the O(dims²) result.
   *
   * Determinism: dimensions micro-quantized once; products summed in
   * DECIMAL(38,0) (exact at any corpus size); the reported entry is
   * scaled back by one integral `DIV 1e6` so it fits a long. Ranking by
   * |G_ij| with (i, j) tie-break, TakeOrdered top-k.
   */
  def gramTopK(embeddings: DataFrame, k: Int = 10): DataFrame = {
    // Measured decision: a shuffle-free variant that generated the
    // C(dims,2) products per row (nested transform + flatten + struct
    // explode) was 2.4× SLOWER at the sf1 probe (24.1 s vs 10.2 s) — the
    // per-row 2016-struct array allocation costs more than the vec_id
    // shuffle it avoids, and the exploded-struct path exits whole-stage
    // codegen. The join form keeps both scans columnar/codegen'd: the
    // exploded (vec_id, pos, q) relation self-joins on vec_id (64 rows a
    // side per key), products aggregate with map-side partials.
    // DISTRIBUTE BEFORE THE d² KERNEL (round 18): the self-join fans out
    // d² products per vec_id from d input rows per vec_id — a work/byte
    // amplification of d (64–256×) that BYTES-based partitioning cannot
    // see. Without this exchange the whole kernel runs at the SCAN's
    // parallelism (one split at gate scale: a single task computed ~8M
    // products for 1.1–1.2 s in the labeled event-log profile while 31
    // cores idled; the same under-partitioning reappears at any scale as
    // one oversized cell). The explicit hash exchange on vec_id ships the
    // un-exploded vectors once (n·d bytes — 1/d of the kernel's work), and
    // at SMJ scale it IS the join's own left-side ENSURE_REQUIREMENTS
    // exchange (same key), so nothing is added where the data is big. N
    // comes from spark.sql.shuffle.partitions — the conf the cluster sizes;
    // an explicit N keeps AQE from coalescing the kernel back to one task
    // on byte estimates.
    val parts = embeddings.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val q = embeddings.repartition(parts, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long").as("q"))
    // 1-based dimension ids in the OUTPUT (posexplode is 0-based; the
    // oracle's list positions are 1-based — i/j are part of the contract)
    val a = q.select(col("vec_id"), (col("pos") + 1).as("i"), col("q").as("qa"))
    val b = q.select(col("vec_id"), (col("pos") + 1).as("j"), col("q").as("qb"))
    a.join(b, Seq("vec_id")).filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(expr("CAST(qa AS DECIMAL(38,0)) * qb")).as("s"))
      .select(col("i"), col("j"), expr("CAST(s DIV 1000000 AS BIGINT)").as("dot_micro"))
      .orderBy(abs(col("dot_micro")).desc, col("i").asc, col("j").asc)
      .limit(k)
  }

  /**
   * Embedding-cosine near-duplicate pairs: all pairs with rounded similarity
   * ≥ threshold — the exact result of [[embeddingNearDupBrute]], computed
   * through a centroid-bucketed candidate join instead of an all-pairs
   * cross join.
   *
   * Exactness guarantee (spherical triangle inequality): for any pair (a, b)
   * with angle(a,b) ≤ θ_t and nearest-centroid assignment angles α_a, α_b,
   *   angle(c_a, c_b) ≤ α_a + θ_t + α_b ≤ θ_t + α̂_i + α̂_j
   * where α̂_i is cell i's WORST assignment angle (a per-cell aggregate).
   * So joining only cell pairs whose centroids are within θ_t + α̂_i + α̂_j
   * NEVER drops a qualifying pair — pruning adapts per cell to how tightly
   * the corpus clusters there (one badly-covered outlier cell widens only
   * its own radius, not every cell's), and correctness does not depend on
   * it. Property-tested against the brute-force form in PropertiesSpec.
   *
   * Scale shape: candidates are an equi-join of the centroid-assigned corpus
   * with a broadcast cell-pair table (shuffle keyed by cell id), then exact
   * verification on candidates only — O(n²) only within paired cells, never
   * across the corpus. At 100 TB: persist the assignment with
   * [[buildIvfIndex]] (partitioned by cid) and train centroids so cells stay
   * balanced; the cell-pair table is O(k²) rows for k centroids, broadcastable
   * for the k ≈ √n regime this targets.
   *
   * ==Supported-threshold regime (read before running at 100 TB)==
   * The cell pruning above is EFFECTIVE only when θ_t + α̂_i + α̂_j < the
   * typical inter-centroid angle — on dense ISOTROPIC embeddings (flat PCA
   * spectrum, pairwise cosine concentrated near 0, e.g. the driver fixture:
   * ~N(0, 0.125²) at 64 dims) that means thresholds of roughly t ≳ 0.7.
   * Below that floor the triangle bound prunes ~no cell pairs and the
   * operator intentionally runs the exact DENSE QUADRATIC: all n²/2 f32
   * dots through the blocked SIMD kernel. This is not an implementation
   * gap — prefix-filtering families (L2AP/APSS) assume sparse vectors and
   * were MEASURED non-transferable here (the bound's own arithmetic costs
   * as much as it saves at every prefix length; BENCH_notes_r13 §1a), and
   * exact subquadratic similarity join on isotropic vectors at a tail
   * threshold is the light-bulb problem. At a low threshold, budget for
   * quadratic kernel time (traffic stays the grouped-cross optimum), or
   * use the capped [[semanticDedupPairs]]/[[semanticDedupCorpus]] path
   * whose per-bucket cap bounds the work. A one-line log warning fires
   * when the measured pair table shows pruning is inactive.
   */
  def embeddingNearDup(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      centroidMod: Int = 40): DataFrame =
    embeddingNearDupWith(embeddings, threshold, centroids(embeddings, centroidMod))

  /** [[embeddingNearDup]] with a caller-supplied centroid table (cid, cvec)
    * — e.g. one trained by [[trainCentroids]]. The exactness guarantee does
    * not depend on the centroid choice (only the pruning efficiency does),
    * so ANY centroid table yields the identical pair set. */
  def embeddingNearDupWith(
      embeddings: DataFrame,
      threshold: Double,
      cents: DataFrame): DataFrame = {
    if (cents.isEmpty) return embeddingNearDupBrute(embeddings, threshold)
    // One quantizer per call: the centroid count decides flat vs two-level
    // for BOTH the assignment and the pair table (they must agree on the
    // cell layout the radii describe).
    val q = quantizerOf(cents)
    // Materialize the assignment once (it feeds three consumers: the
    // per-cell radii and both join sides); blocks are freed by the
    // ContextCleaner when the result plan is dropped. At 100 TB you'd
    // persist this with buildIvfIndex instead and read it back
    // partition-pruned.
    val assigned = assignToCentroidsWithSim(embeddings, q)
      .select(col("vec_id"), col("embedding"), col("cid"), col("csim"))
      .localCheckpoint()
    val cellPairs = cellPairTable(assigned, q, threshold)
      .filter(col("cid_a") <= col("cid_b"))
    // The hash exchange below the sort is NOT redundant: a global sort's
    // RANGE partitioner samples its child to compute bounds in a separate
    // job, and with only shuffle-reuse boundaries above the kernel that
    // sampling job RE-EXECUTES the whole all-vs-all kernel stage (measured:
    // 2× the dominant stage per run at the 60×-distinct probe — the event
    // log shows the bounds job and the exchange job each reading the full
    // packed SMJ inputs). Materializing the (tiny, match-only) kernel
    // output behind one hash exchange lets the sampler read 47 MB instead
    // of recomputing ~200 s of kernel work.
    blockedPairs(assigned, cellPairs, threshold, q.k)
      .repartition(col("vec_a"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /**
   * Blocked candidate evaluation over CANONICAL (cid_a ≤ cid_b) qualifying
   * cell pairs: pack each cell once
   * (`collect_list(struct(vec_id, embedding))` — one aggregate, so id/vector
   * alignment is structural), join the packed cells through the broadcast
   * pair table, and let [[graft.functions.CellPairMatchesF32]] run the
   * all-vs-all f32 loop per paired-cell row, emitting only raw-sim
   * survivors. The EXACT rounded-threshold filter is re-applied here in
   * Column space (kernel prefilter at `threshold − 1e-6`, strictly wider
   * than any round6f lift — see the kernel scaladoc), so rounding semantics
   * never leave the proven Column path.
   *
   * Replaces the row-per-candidate join, whose per-candidate UnsafeRow
   * materialization of two embedding arrays dominated x57 at the round-10
   * distinct-growth probe (~200 GB of row traffic for ~10⁵ true pairs).
   *
   * Packed-row width is HARD-bounded (round 12): members are packed per
   * (cid, block) with ⌈cellSize/4096⌉ id-mod blocks per cell, so even a
   * degenerate corpus that concentrates into ONE cell on the audit path
   * (where the pair table names every populated cell and the capped
   * path's size split does not apply) packs rows of ≤ ~4096 expected
   * members instead of one O(n·dim) row. Block pairs enumerate the same
   * pair set exactly: within-block pairs run the `same` kernel arm,
   * block-vs-block the cross arm, and same-cell block pairs are taken
   * canonically (blk_a ≤ blk_b) so no pair repeats. Normal cells get one
   * block — the plan is then row-identical to the unblocked form.
   *
   * TWO join strategies, dispatched on measured pair-table density
   * (round 12, from the 60×-distinct probe): the pair-table EQUI-JOIN
   * (packed_a ⋈ pairs ⋈ packed_b) carries the a-side payload through the
   * second join's shuffle, so its traffic is O(qualifying pairs ×
   * cell bytes) — at t=0.4 the triangle bound prunes NOTHING (cell radii
   * exceed the bound at 64 dims — round-11 note), the pair table is all
   * k²/2 pairs, and the probe measured 100 GB of shuffle + 110 GB of
   * spill for x4/x57 (128/165 s). The GROUPED 2D CROSS is the
   * communication-optimal all-pairs shape: cells get a group g =
   * cid mod G; each side is replicated G ways keyed (g_a, g_b); the SMJ
   * on the two group keys streams the in-task cross product straight
   * into a broadcast LEFT-SEMI filter against the pair table (semi also
   * keeps ReorderJoin from re-bridging through the pair table), so the
   * quadratic candidate stream NEVER touches the network — shuffled
   * bytes are 2G × packed corpus, tasks G² ≈ the session's shuffle
   * partitions. Dispatch (round 13): grouped when pairs > G × populated,
   * where `populated` is the count of DISTINCT cells the checkpointed
   * pair table names — the honest traffic bar, since the equi-join's
   * shuffle is ~pairs × (corpus/populated) bytes vs the grouped cross's
   * 2G × corpus (an earlier form used the quantizer's k as the
   * denominator; k ≥ populated, so it under-engaged the dense regime
   * exactly for trained quantizers with empty cells). Equi-join
   * otherwise (sparse regime, e.g. the capped `small` table at gate
   * scale, where the broadcast bridge is free and gated plans stay
   * byte-identical). When k ≤ 2G−1 the dense regime is impossible
   * (pairs ≤ pop(pop+1)/2 with pop ≤ k, so pairs > G·pop needs
   * pop ≥ 2G) and no dispatch count runs at all — the gate-scale
   * fixed-job cost the round-12 riser A/B measured on x39. Measured
   * effect: see BENCH_notes_r12 §2 (the 60×-distinct before/after) and
   * §8 (the gate-scale fixed-cost price).
   *
   * Replication traffic is ~|C|·√(2P) for P-way parallelism — a
   * communication LOWER BOUND of parallel all-pairs, not a removable
   * constant (BENCH_notes_r14 §1e); the cross stage sizes P from the
   * session's shuffle partitions.
   */
  private def blockedPairs(
      assigned: DataFrame, canonicalCellPairs: DataFrame,
      threshold: Double, k: Long): DataFrame = {
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    // Pack ONLY cells the pair table names: on the capped
    // [[semanticDedupPairs]] path an over-cap cell's pairs route to the
    // star arm, but without this semi-join the cell would STILL collapse
    // into one O(members·dim) aggregate row here (Spark cannot push the
    // pair join below the groupBy), so one degenerate mega-cell would
    // defeat the very bound maxCellPairSize exists to enforce. Cells
    // appearing in the capped pair table are ≤ cap by construction; on
    // the audit path every populated cell qualifies (the self pair always
    // passes the angle bound), so there the semi-join filters nothing and
    // costs one broadcast probe per row.
    // materialize the (tiny, ≤k²-row, 2-int-column) pair table once: the
    // density dispatch counts it (dense regime only), and both
    // strategies re-read it
    val cp = canonicalCellPairs.localCheckpoint()
    val pairedCids = cp
      .select(explode(array(col("cid_a"), col("cid_b"))).as("cid"))
      .distinct()
    // block assignment: ⌈csz/4096⌉ id-mod blocks per cell (one block for
    // every cell under ~4096 members — the common case, where the extra
    // columns fold away); csz is an O(#cells) aggregate, broadcastable
    val csz = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val packed = assigned
      .join(broadcast(pairedCids), Seq("cid"), "left_semi")
      .join(broadcast(csz), Seq("cid"))
      .withColumn("nblk",
        ceil(col("csz").cast("double") / lit(4096.0)).cast("int"))
      .withColumn("blk", pmod(col("vec_id"), col("nblk")).cast("int"))
      .groupBy(col("cid"), col("blk"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("cell"))
    val pa = packed.select(col("cid").as("cid_a"), col("blk").as("blk_a"),
      col("cell").as("cell_a"))
    val pb = packed.select(col("cid").as("cid_b"), col("blk").as("blk_b"),
      col("cell").as("cell_b"))
    val conf = assigned.sparkSession.sessionState.conf.numShufflePartitions
    // Per-side replication of the slotted cross (its REAL traffic term):
    // G² group pairs need ≥ conf slots, so G = ⌈√(2·conf)⌉ gives
    // every partition ≥2 pairs by construction under pre-image placement.
    val gp = math.max(2, math.ceil(math.sqrt(2.0 * conf)).toInt)
    // DISPATCH BAR, re-derived from the slotted path's true traffic
    // (round 15, verdict ask 4). Totals in packed-corpus units |C|:
    //   equi bridge: pb ships once through the cid_b exchange (1×) and
    //     the pair-expanded a-side ships pairs × avg cell ≈ pairs/pop ×
    //     |C| — total 1 + pairs/pop;
    //   grouped cross: each side replicated gp ways — total 2·gp.
    // Dense wins when 1 + pairs/pop > 2·gp ⟺ pairs > (2·gp − 1)·pop.
    // The r12 bar this replaces compared pairs/pop against G = 2·⌈√conf⌉
    // — ONE side's replication under the old hash placement — which
    // under-priced the cross's round trip (2G) and so engaged the dense
    // path slightly too early (bar 12 vs honest 15 at conf 32; the r14
    // comment's "errs toward the broadcast bridge" had the direction
    // inverted — priced per-side, the old bar was 1.5× the slotted
    // per-side gp, but the bar compares against the equi path's TOTAL,
    // so the round trip is what must be priced). Gate plans are
    // unaffected either way: the boundary only moves inside the window
    // pairs/pop ∈ (12, 15] at conf 32, and no gated fixture sits there.
    val bar = 2L * gp - 1
    // Count NOTHING when the dense regime is analytically impossible:
    // pairs ≤ pop(pop+1)/2 and pop ≤ k, so pairs > (2gp−1)·pop needs
    // pop ≥ 4gp−2, impossible under k ≤ 4gp−3 — the dispatch-count job
    // the round-12 riser A/B priced at ~+0.4 s per invocation (x39
    // 1.40 → 2.00 s isolated) never runs at gate scale (k = 2 at sf0.01,
    // 13–20 at sf0.1, both far under the 4gp−2 = 30 floor at conf 32 —
    // a WIDER no-count region than r14's k ≤ 23). When the check DOES
    // run, the density bar's denominator is the POPULATED cell count
    // from the already-checkpointed pair table (round-13 ADVICE; k ≥
    // populated under-engaged the dense regime for trained quantizers
    // with empty cells). Both counts come from ONE job over the
    // checkpointed ≤k²-row pair table, never a live plan.
    val dense = k > 4L * gp - 3 && {
      val r = cp.select(explode(array(col("cid_a"), col("cid_b"))).as("cid"))
        .agg(count(lit(1)).as("n2"), count_distinct(col("cid")).as("pop"))
        .head()
      // n2 = 2·pairs (each pair contributes both cids)
      val (pairs, pop) = (r.getLong(0) / 2, r.getLong(1))
      // Threshold-regime warning (BENCH_notes_r13 §1a, surfaced at the
      // operator per the round-13 verdict): when the pair table names
      // ~every populated cell pair, the spherical-triangle bound is
      // pruning nothing at this (threshold, radii) point — the observed
      // signature of a threshold below the radius-effective floor — and
      // the run is an intentional exact dense quadratic. Measured from
      // the SAME one-job count the dense dispatch already pays, so the
      // warning costs nothing and never fires at gate scale (where no
      // dispatch count runs at all).
      if (pairs * 20L >= pop * (pop + 1L) / 2L * 19L)
        log.warn(s"cell-pair table prunes ~nothing ($pairs of " +
          s"${pop * (pop + 1L) / 2L} canonical pairs over $pop populated " +
          s"cells): threshold $threshold is below the radius-effective " +
          "floor for this corpus's cell radii, so exact semantic near-dup " +
          "runs as an intentional dense quadratic (all-pairs kernel work; " +
          "see the embeddingNearDup scaladoc's supported-threshold note)")
      pairs > bar * pop
    }
    val candidates =
      if (dense) {
        // Dense regime: 2D grouped cross with DETERMINISTIC slot
        // placement (round 14, the G-vs-conf decoupling of REVIEW_r13
        // §6). Replication is the traffic: each side ships G × packed
        // corpus, so G should be the SMALLEST count that still gives
        // every partition work — not the 2·√conf over-decomposition that
        // bought hash-collision variance down at 2× the bytes. The hash
        // layer is bypassed: group pair (g_a, g_b) is assigned round-
        // robin to an explicit partition via a murmur PRE-IMAGE slot
        // value (slotFor(p) hashes to partition p under Spark's
        // hashpartitioning seed; verified exact — 64 pairs → 32
        // partitions at 2/2 max/min), so G = ⌈√(2·conf)⌉ suffices
        // (≥2 pairs per partition by construction) and replication drops
        // 2·√conf → ⌈√(2·conf)⌉ per side (24× → 16× packed at conf 32)
        // with zero placement variance. Slot equality is implied by the
        // (g_a, g_b) join keys — a function of them on both sides — so
        // the candidate set is unchanged; if a Spark version ever stops
        // honoring the pre-partitioning, EnsureRequirements just inserts
        // the hash exchange this replaces (correctness never depends on
        // placement).
        val slots = pairSlotValues(conf, gp * gp)
        val slotLit = array(slots.map(lit(_)).toIndexedSeq: _*)
        // pair-unique slot value: the join's ONLY key (equality ⟺ same
        // (g_a, g_b)), so the per-side repartition on it is exactly the
        // join requirement and survives planning
        def slotted(df: DataFrame): DataFrame = df
          .withColumn("gslot", element_at(slotLit,
            (col("g_a") * gp + col("g_b") + 1).cast("int")))
          .repartition(conf, col("gslot"))
        val groups = sequence(lit(0), lit(gp - 1))
        val ga = slotted(pa.withColumn("g_a", pmod(col("cid_a"), lit(gp)).cast("int"))
          .withColumn("g_b", explode(groups)))
        val gb = slotted(pb.withColumn("g_b", pmod(col("cid_b"), lit(gp)).cast("int"))
          .withColumn("g_a", explode(groups)))
          .drop("g_a", "g_b")
        ga.join(gb, Seq("gslot"))
          .join(broadcast(cp), Seq("cid_a", "cid_b"), "left_semi")
      } else {
        // sparse regime: the pair table is the join bridge. The b-side
        // join carries NO broadcast hint: the packed relation is the
        // corpus itself, so AQE may broadcast it while it fits (the
        // gate regime) but must be free to fall back to a shuffle join.
        pa.join(broadcast(cp), Seq("cid_a"))
          .join(pb, Seq("cid_b"))
      }
    candidates
      // same-cell block pairs are canonical (blk_a ≤ blk_b); the strictly
      // equal block runs the i<j `same` arm, distinct blocks the cross arm
      .filter(col("cid_a") =!= col("cid_b") || col("blk_a") <= col("blk_b"))
      .select(explode(call_function("cell_pair_matches",
        col("cell_a"), col("cell_b"), lit(threshold - 1e-6),
        col("cid_a") === col("cid_b") && col("blk_a") === col("blk_b"))).as("m"))
      .select(col("m.vec_a").as("vec_a"), col("m.vec_b").as("vec_b"),
        round6f(col("m.sim")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** One DISTINCT int per group pair, pair j's value hashing (Murmur3,
    * Spark's hashpartitioning seed 42) EXACTLY to partition j % conf —
    * the slot directory the dense grouped cross joins on. One value per
    * PAIR, not per partition, because the slot must be the join's ONLY
    * key: value equality ⟺ same (g_a, g_b) pair, so the join needs no
    * other keys — and a single-key join whose children are repartitioned
    * on exactly that key is the one shape EnsureRequirements provably
    * leaves alone (measured: with (gslot, g_a, g_b) keys it REWRITES the
    * user repartition to full-key hashing, silently restoring the
    * birthday-collision placement this exists to remove). Search is a
    * driver-side loop over small ints (≈ e·slots probes); memoized per
    * (conf, nPairs). If the safety bound exhausts before every slot
    * fills (never observed), remaining pairs fall back to sequential
    * values — placement degrades to hashing for those pairs, correctness
    * unaffected (the value is still pair-unique). */
  private val slotCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Int]]()
  private[graft] def pairSlotValues(conf: Int, nPairs: Int): Array[Int] =
    slotCache.computeIfAbsent((conf, nPairs), { case (n, np) =>
      val per = (np + n - 1) / n
      val buckets = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int](per))
      var v = 0
      var filled = 0
      while (filled < n * per && v < (1 << 24)) {
        val p = ((org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42) % n) + n) % n
        if (buckets(p).length < per) { buckets(p) += v; filled += 1 }
        v += 1
      }
      Array.tabulate(np) { j =>
        val b = buckets(j % n)
        if (j / n < b.length) b(j / n) else (1 << 24) + j
      }
    })

  /** Cell-pair pruning table `(cid_a, cid_b)` — BOTH orientations — from the
    * per-cell worst assignment angle α̂; slack absorbs f32 cosine error and
    * the ≤5e-7 shift of the round-to-6-places threshold test. Everything
    * stays a (tiny) distributed plan — no driver-side aggregate. The
    * spherical-triangle exactness guarantee is documented on
    * [[embeddingNearDup]]; the self pair (i, i) always qualifies (its
    * centroid angle is 0). Shared by the exact audit join and the capped
    * [[semanticDedupPairs]] generator so the two can never diverge on which
    * cell pairs are candidates. Takes the QUANTIZER, never a raw centroid
    * table: a cents-based convenience overload would silently build a
    * second quantizer (an extra count() job plus two localCheckpoints)
    * separate from the assignment's — every caller must share the one
    * [[quantizerOf]] instance its assignment used.
    *
    * Flat: the k² centroid cross join. Two-level:
    * super pairs first — super radius β_s = max over member cells of
    * (angle(s, c) + α_c), so for any qualifying pair (u ∈ cell A ∈ S_a,
    * v ∈ cell B ∈ S_b): angle(S_a,S_b) ≤ β_a + θ_t + β_b by two more
    * triangle hops — then only centroid pairs inside qualifying super pairs
    * face the cell-level bound. Exactness is inherited: the final cell
    * filter is the SAME bound the flat form applies; the super level can
    * only discard pairs the cell bound would also discard. */
  private def cellPairTable(assigned: DataFrame, q: Quantizer,
      threshold: Double): DataFrame = {
    def clamp(c: Column): Column = greatest(lit(-1.0), least(lit(1.0), c.cast("double")))
    val slack = 1e-3
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val radii = assigned.groupBy(col("cid"))
      .agg(acos(clamp(min(col("csim")))).as("alpha"))
    q.sup match {
      case None =>
        val ca = q.cents.join(radii, Seq("cid"))
          .select(col("cid").as("cid_a"), col("cvec").as("cvec_a"), col("alpha").as("alpha_a"))
        val cb = q.cents.join(radii, Seq("cid"))
          .select(col("cid").as("cid_b"), col("cvec").as("cvec_b"), col("alpha").as("alpha_b"))
        ca.crossJoin(broadcast(cb))
          .filter(acos(clamp(cos(col("cvec_a"), col("cvec_b"))))
            <= lit(thetaT + slack) + col("alpha_a") + col("alpha_b"))
          .select(col("cid_a"), col("cid_b"))
      case Some((supers, c2s)) =>
        // cells that received no vectors have no radius and prune away via
        // the inner join — same implicit behavior as the flat form
        val cells = c2s.join(radii, Seq("cid"))
          .select(col("cid"), col("cvec"), col("sid"), col("alpha"),
            (acos(clamp(col("cssim"))) + col("alpha")).as("beta_c"))
        val sradii = cells.groupBy(col("sid")).agg(max(col("beta_c")).as("beta"))
        val sa = supers.join(sradii, Seq("sid"))
          .select(col("sid").as("sid_a"), col("svec").as("svec_a"), col("beta").as("beta_a"))
        val sb = supers.join(sradii, Seq("sid"))
          .select(col("sid").as("sid_b"), col("svec").as("svec_b"), col("beta").as("beta_b"))
        val superPairs = sa.crossJoin(broadcast(sb))
          .filter(acos(clamp(cos(col("svec_a"), col("svec_b"))))
            <= lit(thetaT + slack) + col("beta_a") + col("beta_b"))
          .select(col("sid_a"), col("sid_b"))
        val ca = cells.select(col("sid").as("sid_a"), col("cid").as("cid_a"),
          col("cvec").as("cvec_a"), col("alpha").as("alpha_a"))
        val cb = cells.select(col("sid").as("sid_b"), col("cid").as("cid_b"),
          col("cvec").as("cvec_b"), col("alpha").as("alpha_b"))
        ca.join(broadcast(superPairs), Seq("sid_a"))
          .join(cb, Seq("sid_b"))
          .filter(acos(clamp(cos(col("cvec_a"), col("cvec_b"))))
            <= lit(thetaT + slack) + col("alpha_a") + col("alpha_b"))
          .select(col("cid_a"), col("cid_b"))
    }
  }

  /** Production cap on a paired-cell candidate bucket (sum of the two
    * cells' rep counts): a bucket at the cap expands at most cap²/2
    * verification pairs in one task — bounded work regardless of how the
    * corpus clusters. Sized so the cap never engages at balanced-cell
    * operating points (cells ≈ √n for the k ≈ √n centroid regime this
    * targets) and only collapses genuinely degenerate cell masses. */
  val DefaultMaxCellPairSize: Int = 2048

  /**
   * Connectivity-preserving near-dup pair generation for the APPLIED
   * semantic-dedup path ([[semanticDedupCorpus]]) — the embedding-space twin
   * of [[DedupOps.minhashLsh]]'s capped candidate generator. The audit form
   * ([[embeddingNearDup]]) emits every qualifying pair; this one emits a
   * SUBSET with provably equal transitive closure on duplicated corpora,
   * in two bounded stages:
   *
   *  1. **Exact-duplicate collapse.** Bit-identical vectors are grouped
   *     (one shuffle keyed on the vector value) and only each group's
   *     minimum vec_id enters the cell machinery; members attach to their
   *     representative by a verified star edge. Because cosine depends only
   *     on the vector value, any brute edge (u, v) maps to the rep edge
   *     (rep_u, rep_v) with the SAME similarity, and u—rep_u always
   *     verifies (self-similarity 1; a zero vector has NaN similarity to
   *     everything, so it is isolated under both forms) — so connected
   *     components over the emitted pairs EQUAL the brute-force components,
   *     not just approximate them. A corpus where every doc is replicated
   *     d× does d²× less pair work: the quadratic stage runs on distinct
   *     vectors only. This is the common shape of a 100 TB crawl corpus
   *     (mirrors/boilerplate are byte-identical embeddings).
   *  2. **Clique ≤ cap ∪ representative-star > cap** per paired-cell
   *     bucket over the surviving reps — the same bounded-task guarantee as
   *     `DedupOps.candidatePairs` (`DedupOps.scala:176`): a cell pair whose
   *     combined size exceeds `maxCellPairSize` contributes one verified
   *     pair per member against the bucket's minimum vec_id instead of a
   *     quadratic clique. Star pairs still pass exact verification, so no
   *     false positive can enter; a star that fails verification while some
   *     non-rep pair would have passed is the star path's recall trade-off,
   *     quantified by [[semanticCapCensus]] (the x41 analogue). Bucket
   *     sizes come from a k-row aggregate joined to the (broadcast)
   *     cell-pair table — unlike LSH's window over high-cardinality band
   *     keys, cells are O(k) so no corpus-wide window is needed. The
   *     clique arm evaluates candidates through the blocked
   *     `cell_pair_matches` kernel ([[blockedPairs]]) — all-vs-all over
   *     two packed cells, match-only output — not a row-per-candidate
   *     join (round 11: the per-candidate UnsafeRow traffic, not the
   *     arithmetic, was x57's distinct-growth bottleneck).
   *
   * Output: (vec_a, vec_b, sim) with vec_a < vec_b, unordered (the
   * component consumer is order-insensitive; the audit form sorts).
   */
  def semanticDedupPairs(
      embeddings: DataFrame,
      threshold: Double,
      cents: DataFrame,
      maxCellPairSize: Int = DefaultMaxCellPairSize): DataFrame =
    semanticDedupPairsImpl(embeddings, threshold, cents, maxCellPairSize,
      materialize = true)

  /** `materialize = false` skips the two localCheckpoints so PlanQualitySpec
    * can assert the FULL logical shape (checkpoints truncate the visible
    * plan); production always materializes — the collapse and the
    * assignment each feed multiple consumers. */
  private[graft] def semanticDedupPairsImpl(
      embeddings: DataFrame,
      threshold: Double,
      cents: DataFrame,
      maxCellPairSize: Int,
      materialize: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def mat(df: DataFrame): DataFrame = if (materialize) df.localCheckpoint() else df
    // stage 1: collapse bit-identical vectors; one materialization feeds
    // the rep relation AND the duplicate star edges
    val wEmb = Window.partitionBy(col("embedding"))
    val withRep = mat(embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("grp", min(col("vec_id")).over(wEmb)))
    val dupStars = withRep.filter(col("vec_id") =!= col("grp"))
      .select(col("grp").as("vec_a"), col("vec_id").as("vec_b"),
        round6f(cos(col("embedding"), col("embedding"))).as("sim"))
      .filter(col("sim") >= threshold)
    val reps = withRep.filter(col("vec_id") === col("grp"))
      .select(col("vec_id"), col("embedding"))
    if (cents.isEmpty)
      return embeddingNearDupBrute(reps, threshold).unionByName(dupStars)
    // stage 2: capped cell machinery over reps only (one quantizer: the
    // assignment and the pair table must agree on the cell layout)
    val q = quantizerOf(cents)
    val assigned = mat(assignToCentroidsWithSim(reps, q)
      .select(col("vec_id"), col("embedding"), col("cid"), col("csim")))
    val csize = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val sized = cellPairTable(assigned, q, threshold)
      .join(csize.select(col("cid").as("cid_a"), col("csz").as("sz_a")), Seq("cid_a"))
      .join(csize.select(col("cid").as("cid_b"), col("csz").as("sz_b")), Seq("cid_b"))
      .withColumn("bsz", when(col("cid_a") === col("cid_b"), col("sz_a"))
        .otherwise(col("sz_a") + col("sz_b")))
    // clique path (bucket ≤ cap): blocked all-vs-all over canonical small
    // cell pairs — each packed-cell row is ≤ maxCellPairSize members by the
    // bucket bound, and the kernel emits matches only (see blockedPairs)
    val small = sized.filter(col("bsz") <= maxCellPairSize &&
        col("cid_a") <= col("cid_b"))
      .select(col("cid_a"), col("cid_b"))
    val cliquePairs = blockedPairs(assigned, small, threshold, q.k)
    // star path (bucket > cap): one candidate per member against the
    // bucket's minimum vec_id. Payload-light form (round 14): a bucket's
    // rep is min(cell-min_a, cell-min_b), so it is computed from the
    // O(#cells) id-only cell-minimum aggregate — never a window over the
    // buckets' replicated members (the r13 shape shipped every member
    // once per touching bucket; a first-attempt r14 window shipped the
    // 256-byte payload at that replication, 601 MB at the 60×d probe).
    // The per-cid (bucket-rep, rep-embedding) directory is TINY (≤ big
    // pairs × 2 rows) and broadcast, so members compute their star sims
    // IN the checkpoint-scan map stage — the only shuffle this path ever
    // pays is the id+sim dropDuplicates, and the corpus is never
    // re-shuffled (the r13 form paid two full-corpus vec_id equi-joins
    // here even when zero buckets capped).
    val big = sized.filter(col("bsz") > maxCellPairSize && col("cid_a") <= col("cid_b"))
      .select(col("cid_a"), col("cid_b"))
    val cmin = assigned.groupBy(col("cid")).agg(min(col("vec_id")).as("cmin"))
    val bigRep = big
      .join(broadcast(cmin.select(col("cid").as("cid_a"), col("cmin").as("cmin_a"))), Seq("cid_a"))
      .join(broadcast(cmin.select(col("cid").as("cid_b"), col("cmin").as("cmin_b"))), Seq("cid_b"))
      .select(col("cid_a"), col("cid_b"),
        least(col("cmin_a"), col("cmin_b")).as("brep"))
    // rep embeddings: one broadcast-semi streaming pass over the
    // checkpointed corpus (no shuffle; empty when no bucket caps)
    val brepEmb = assigned.select(col("vec_id").as("brep"), col("embedding").as("bemb"))
      .join(broadcast(bigRep.select(col("brep")).distinct()), Seq("brep"), "left_semi")
    val starDir = bigRep
      .select(explode(array(col("cid_a"), col("cid_b"))).as("cid"), col("brep"))
      .distinct()
      .join(brepEmb, Seq("brep"))
    val starPairs = assigned.join(broadcast(starDir), Seq("cid"))
      .filter(col("vec_id") =!= col("brep"))
      .select(col("brep").as("vec_a"), col("vec_id").as("vec_b"),
        round6f(cos(col("bemb"), col("embedding"))).as("sim"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("sim") >= threshold)
    // a rep pair inside one big bucket's cell can also surface from that
    // cell's own small (i, i) pair — dedup before attaching the collapse
    // stars (which are disjoint by construction: members never re-enter
    // the rep machinery)
    cliquePairs.unionByName(starPairs).dropDuplicates("vec_a", "vec_b")
      .unionByName(dupStars)
  }

  /**
   * SemDeDup-style semantic deduplication, APPLIED — the embedding-space
   * twin of [[DedupOps.dedupCorpus]] (Abbas et al. 2023, "SemDeDup":
   * cluster embeddings, drop all but one member of each semantic-duplicate
   * group). Pairs come from the capped connectivity-preserving generator
   * ([[semanticDedupPairs]] — exact-duplicate collapse, then clique≤cap ∪
   * star>cap per paired cell; never all-pairs, never uncapped), are closed
   * into transitive clusters by [[DedupOps.connectedComponents]], and each
   * cluster keeps its minimum vec_id; every other member is anti-joined
   * away. Returns the surviving `embeddings` rows with all their columns.
   *
   * Scale shape: candidate work is quadratic only in DISTINCT vectors per
   * cell pair and hard-capped at maxCellPairSize²/2 per bucket — a corpus
   * where every doc is replicated d× (the duplication-skew worst case a
   * semantic dedup exists for) does d²× less pair work than the audit
   * join, with provably identical survivors for exact replicas (see
   * [[semanticDedupPairs]]). The component loop keeps counter-only driver
   * state; the loser set is at most one row per clustered vector and the
   * anti-join shuffles on vec_id. Low thresholds on dense isotropic
   * embeddings run the clique arm as an intentional exact quadratic per
   * bucket (capped at maxCellPairSize²/2) — see the supported-threshold
   * note on [[embeddingNearDup]] before choosing t at 100 TB.
   */
  def semanticDedupCorpus(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      centroidMod: Int = 40,
      maxCellPairSize: Int = DefaultMaxCellPairSize): DataFrame = {
    val pairs = semanticDedupPairs(embeddings, threshold,
        centroids(embeddings, centroidMod), maxCellPairSize)
      .select(col("vec_a"), col("vec_b"))
    // adaptive strategy switch (see connectedComponentsAdaptive): semantic
    // pair graphs are tiny relative to their corpus; the distributed loop
    // engages above the edge bound and stays gated via x34
    val comp = DedupOps.connectedComponentsAdaptive(pairs, "vec_a", "vec_b")
    val losers = comp.filter(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.join(losers, Seq("vec_id"), "left_anti")
  }

  /**
   * Star-gap census for the capped semantic-dedup generator — the
   * embedding-space analogue of [[DedupOps.lshRecallCensus]] (x41): runs
   * BOTH the exact audit join and the capped [[semanticDedupPairs]], closes
   * both into components, and reports how the survivor sets differ,
   * alongside how much of the corpus engaged each bounding stage. One row:
   *
   *  - n_vecs / n_groups — corpus size and distinct-vector groups (the
   *    exact-collapse ratio; n_vecs − n_groups rows never reach the
   *    quadratic stage);
   *  - n_buckets / n_capped / max_bucket — canonical qualifying cell pairs,
   *    how many exceeded the cap (star path engaged), largest bucket;
   *  - survivors_exact / survivors_capped / n_disagree — survivor counts
   *    under each generator and the size of their symmetric difference
   *    (0 whenever no bucket capped, by the collapse-exactness proof; for
   *    capped buckets it measures the star path's recall trade-off).
   *
   * This is a diagnostic (it deliberately pays for the exact join too) —
   * run it on a bounded slice at scale, like the LSH census.
   */
  def semanticCapCensus(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      centroidMod: Int = 40,
      maxCellPairSize: Int = DefaultMaxCellPairSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids(embeddings, centroidMod)
    def survivors(pairs: DataFrame): DataFrame = {
      val comp = DedupOps.connectedComponentsAdaptive(
        pairs.select(col("vec_a"), col("vec_b")), "vec_a", "vec_b")
      val losers = comp.filter(col("component") =!= col("doc_id"))
        .select(col("doc_id").as("vec_id"))
      embeddings.select(col("vec_id")).join(losers, Seq("vec_id"), "left_anti")
    }
    val exactSurv = survivors(embeddingNearDupWith(embeddings, threshold, cents))
      .withColumn("ex", lit(true))
    val cappedSurv = survivors(
        semanticDedupPairs(embeddings, threshold, cents, maxCellPairSize))
      .withColumn("cp", lit(true))
    val surv = exactSurv.join(cappedSurv, Seq("vec_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("ex"), 1L)), lit(0L)).as("survivors_exact"),
        coalesce(sum(when(col("cp"), 1L)), lit(0L)).as("survivors_capped"),
        coalesce(sum(when(col("ex").isNull || col("cp").isNull, 1L)), lit(0L))
          .as("n_disagree"))
    // bucket stats over the same rep assignment the capped generator uses
    val wEmb = Window.partitionBy(col("embedding"))
    val withRep = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("grp", min(col("vec_id")).over(wEmb))
    val nVecs = withRep.agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("vec_id") === col("grp"), 1L)).as("n_groups"))
    val reps = withRep.filter(col("vec_id") === col("grp"))
      .select(col("vec_id"), col("embedding"))
    val q = quantizerOf(cents)
    val assigned = assignToCentroidsWithSim(reps, q)
      .select(col("vec_id"), col("cid"), col("csim"), col("embedding"))
      .localCheckpoint()
    val csize = assigned.groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val buckets = cellPairTable(assigned, q, threshold)
      .filter(col("cid_a") <= col("cid_b"))
      .join(csize.select(col("cid").as("cid_a"), col("csz").as("sz_a")), Seq("cid_a"))
      .join(csize.select(col("cid").as("cid_b"), col("csz").as("sz_b")), Seq("cid_b"))
      .withColumn("bsz", when(col("cid_a") === col("cid_b"), col("sz_a"))
        .otherwise(col("sz_a") + col("sz_b")))
      .agg(
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("bsz") > maxCellPairSize, 1L)), lit(0L)).as("n_capped"),
        coalesce(max(col("bsz")), lit(0L)).as("max_bucket"))
    nVecs.crossJoin(broadcast(buckets)).crossJoin(broadcast(surv))
      .select(col("n_vecs"), col("n_groups"), col("n_buckets"), col("n_capped"),
        col("max_bucket"), col("survivors_exact"), col("survivors_capped"),
        col("n_disagree"))
  }

  /**
   * Symmetric int8 quantization of the embedding column — the storage/IO
   * path for a 100 TB vector corpus: a 64-dim float32 vector (256 B)
   * becomes 64 int8 codes + one float32 scale (68 B), a 3.8× reduction
   * that cuts index size, shuffle bytes, and scan IO by the same factor
   * (and unlocks int8 SIMD kernels in native deployments). Per-vector
   * max-abs scaling: `q_i = floor(x_i/s · 127 + 0.5)`, `s = max|x_i|` —
   * codes span [-127, 127], the worst-case dequantization error is
   * `s/254` per coordinate.
   *
   * Cross-engine determinism: the scale is an exact f32 max; the quantize
   * arithmetic runs in DOUBLE (exact for these magnitudes) with an
   * explicit `floor(·+0.5)` — NOT `round()`, whose half-way rule
   * (HALF_UP vs HALF_EVEN) differs between engines; zero vectors quantize
   * to all-zero codes rather than NaN. [[dequantized]] reverses in double
   * and casts to float, so both engines land on bit-identical f32 vectors
   * and the existing cosine machinery stays oracle-gateable (x73).
   */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val maxAbs = aggregate(col("embedding"), lit(0f), (acc, x) => greatest(acc, abs(x)))
    embeddings
      .withColumn("scale", maxAbs)
      .withColumn("q",
        when(col("scale") === lit(0f),
          transform(col("embedding"), _ => lit(0).cast("byte")))
          .otherwise(transform(col("embedding"), x =>
            floor(x.cast("double") / col("scale").cast("double") * lit(127d) + lit(0.5d))
              .cast("byte"))))
      .drop("embedding")
  }

  /**
   * Semantic decontamination census: flag every corpus vector within
   * rounded cosine `tau` of ANY held-out eval/benchmark vector — the
   * embedding-space analogue of the x21/x49/x65 shingle decontamination,
   * catching paraphrase-level benchmark leakage that exact text matching
   * misses (the contamination analyses in public LLM reports motivate
   * exactly this check). Output is one row of exact integers: flagged and
   * clean counts plus an id checksum, so the gate pins WHICH vectors were
   * flagged, not just how many.
   *
   * Scale shape: the eval side is small by contract (benchmarks are
   * thousands of rows; the corpus is the big side) and is BROADCAST as ONE
   * packed cell; the corpus is packed into bounded blocks (≤ 4096 vectors,
   * block count corpus-proportional) and each block runs the blocked
   * `cell_pair_matches` kernel against the eval cell — the corpus streams
   * once, the per-candidate work is an in-core f32 dot, and only HITS
   * leave the kernel (round-11: the row-per-candidate broadcast-NL form
   * materialized two embedding arrays per (corpus, eval) pair — 54× at the
   * 30×-distinct probe where the fixture grows the eval side too; the
   * kernel form is the same exact math at block granularity). At 100 TB
   * this is scan-dominated, exactly like the Bloom decontamination path.
   * A huge eval set would instead go through the [[embeddingNearDupWith]]
   * cell pruning; this operator deliberately takes the broadcast contract.
   */
  def semanticDecontaminate(
      corpus: DataFrame, evalSet: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Eval ids are NEVER part of the result — pin them at Long.MinValue so
    // the kernel's (min id, max id) orientation provably puts the corpus
    // id in vec_b for every emitted pair.
    val ev = broadcast(evalSet
      .select(lit(Long.MinValue).as("vec_id"), col("embedding"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("cell_b")))
    val blocks = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("blk", floor(col("vec_id") / lit(4096L)))
      .groupBy(col("blk"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("cell_a"))
    // Kernel prefilter at tau - 1e-6; the EXACT round6f >= tau decision is
    // re-applied in Column space on the emitted hits (same contract as
    // blockedPairs). Distinct because a corpus vector may hit several eval
    // vectors; the old per-vec max() collapsed those the same way.
    val hits = blocks.crossJoin(ev)
      .select(explode(call_function("cell_pair_matches",
        col("cell_a"), col("cell_b"), lit(tau - 1e-6), lit(false))).as("m"))
      .select(col("m.vec_b").as("vec_id"), round6f(col("m.sim")).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    corpus.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .agg(
        sum(col("hit")).as("contaminated"),
        sum(lit(1L) - col("hit")).as("clean"),
        sum(col("vec_id") * col("hit")).as("id_checksum"))
  }

  /** Reconstruct f32 vectors from int8 codes + scale (double math, one
    * float rounding at the end — bit-identical across engines). */
  def dequantized(q: Column, scale: Column): Column =
    transform(q, b => (b.cast("double") * (scale.cast("double") / lit(127d))).cast("float"))

  /** E2's top-k over the QUANTIZED store: quantize → dequantize → the same
    * f32 cosine + top-k. Gated as x73 — the oracle replays the identical
    * quantization arithmetic, so the gate pins both the codes and the
    * reconstruction. In production the index stores (q, scale) and this
    * reconstruction happens at scan time, trading ~1e-3 similarity error
    * for 3.8× less IO (the error census lives in QuantizationSpec). */
  def topkCosineQuantized(embeddings: DataFrame, queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val dq = quantizeEmbeddings(embeddings)
      .select(col("vec_id"), dequantized(col("q"), col("scale")).as("embedding"))
    val q = dq.filter(col("vec_id") === queryVecId).select(col("embedding").as("qvec"))
    dq.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round6f(cos(col("qvec"), col("embedding"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * The quantized persisted IVF index: same layout as [[buildIvfIndex]]
   * (partitionBy(cid) → probing = partition pruning; float centroid table
   * beside it) but rows store (vec_id, q int8[], scale f32) — 3.8× less
   * index IO per probe. Cell ASSIGNMENT runs on the float vectors before
   * quantization (the quantizer must not move vectors across cells);
   * [[queryIvfIndexQuantized]] dequantizes at scan time inside the probed
   * cells only.
   */
  def buildIvfIndexQuantized(
      embeddings: DataFrame,
      path: String,
      centroidMod: Int = 40,
      maxCentroids: Int = DefaultMaxCentroids): Unit = {
    val cents = centroidsFixedK(embeddings, centroidMod, maxCentroids)
    cents.write.mode("overwrite").parquet(s"${path}_centroids")
    quantizeEmbeddings(assignToCentroids(embeddings, cents))
      .write.mode("overwrite").partitionBy("cid").parquet(path)
  }

  /** [[queryIvfIndex]] over a quantized index: identical probe selection
    * (float centroids), dequantized scoring inside the probed cells. */
  def queryIvfIndexQuantized(
      spark: SparkSession,
      path: String,
      queryVec: DataFrame,
      queryVecId: Long,
      k: Int = 10,
      nProbe: Int = 12): DataFrame = {
    val index = spark.read.parquet(path)
      .select(col("vec_id"),
        dequantized(col("q"), col("scale")).as("embedding"), col("cid"))
    queryIvfIndex(index, spark.read.parquet(s"${path}_centroids"),
      queryVec, queryVecId, k, nProbe)
  }

  /** The O(n²) all-pairs form of [[embeddingNearDup]] — correctness baseline
    * for the property test, and the fallback when no centroid exists. */
  def embeddingNearDupBrute(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), round6f(cos(col("emb_a"), col("emb_b"))).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /**
   * IVF approximate nearest-neighbour: centroids are the deterministic subset
   * `vec_id % centroidMod == 0`; every vector is assigned to its cosine-nearest
   * centroid; the query probes the `nProbe` nearest centroids and ranks only
   * vectors assigned there. Deterministic ties: (sim DESC, id ASC) everywhere.
   */
  /** Deterministic centroid table for the near-dup/semantic BUCKETING
    * paths. Two regimes (round 12, from the 60×-distinct probe):
    *
    *  - n ≤ centroidMod²: the classic `vec_id % mod == 0` rule — cell
    *    count n/mod, byte-identical plans at the gate SFs.
    *  - n > centroidMod²: expected-√n cells by hashed-id selection
    *    (`xxhash64(vec_id) % (n/√n) == 0` — id-distribution-robust where
    *    an id-prefix cap is not: probe fixtures stride ids by 10⁷). The
    *    n/mod rule makes the CELL-PAIR table grow as (n/mod)² — and in
    *    the t=0.4 no-pruning regime (cell radii exceed the triangle
    *    bound at 64 dims) every pair is evaluated, so per-pair kernel
    *    overhead (unpack, norm precompute, row alloc) dominated the 60×d
    *    probe at 4.5M pairs while the intrinsic dot work is Θ(n²)
    *    REGARDLESS of k. k ≈ √n is the balanced tiling: pair table O(n),
    *    per-pair work n — overhead amortized to its minimum, exactly the
    *    block-size argument of cache-blocked matrix multiply. Cell
    *    population ≈ √n stays under the 4096 packed-block bound to
    *    n ≈ 16M vectors per partition-set; past that the (cid, blk)
    *    blocking bounds packed rows anyway.
    *
    * The choice affects COST only, never results: the exactness guarantee
    * on [[embeddingNearDup]] holds for any centroid table (x4/x39/x57's
    * oracles are brute-force SQL). Zero centroids selected (possible only
    * at degenerate n) falls back to the brute path via `cents.isEmpty`. */
  private def centroids(embeddings: DataFrame, centroidMod: Int): DataFrame = {
    val n = embeddings.count()
    val sqrtN = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val mod = math.max(centroidMod.toLong, n / sqrtN)
    if (mod == centroidMod.toLong)
      embeddings.filter(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    else
      embeddings.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
  }

  // ---- two-level (super-centroid) quantizer ------------------------------

  /** Centroid count at which the flat broadcast-NL assignment and the k²
    * cell-pair table switch to the two-level super-centroid scheme. The
    * corpus-proportional centroid rule above keeps CELLS bounded but makes
    * flat assignment O(n·k) = O(n²/mod) and the pair table O(k²) — the
    * round-10 distinct-growth probe measured exactly that (x57 14× for 10×
    * data, the assignment stage dominating). Below the threshold the flat
    * path is cheaper anyway AND the gated small-SF plans stay byte-identical
    * (k = 2 at sf0.01, 20 at sf0.1); at or above it — probe and production
    * scale — assignment drops to ~O(n·√k) and the pair table prunes through
    * a ~√k super level first. */
  private[graft] val TwoLevelMinCentroids = 64L

  /** A centroid table plus, once it is large enough, its ~√k super level:
    * `supers` are the centroids whose hashed id falls in residue 0 mod
    * ceil(√k) (deterministic; no global ordering, so no single-partition
    * window anywhere), and `c2s` assigns every centroid to its nearest
    * super (ties cssim DESC, sid ASC), keeping the centroid→super cosine
    * for the super-radius bound. Every downstream triangle bound is
    * computed from ACTUAL assignment angles, so the two-level scheme —
    * like the centroid choice itself — affects cost only, never results
    * (the exactness argument on [[embeddingNearDup]] never assumes
    * nearest-centroid assignment). */
  private case class Quantizer(
      cents: DataFrame, sup: Option[(DataFrame, DataFrame)], k: Long)

  private def quantizerOf(cents: DataFrame): Quantizer = {
    val k = cents.count()
    if (k < TwoLevelMinCentroids) return Quantizer(cents, None, k)
    val s = math.ceil(math.sqrt(k.toDouble)).toLong
    // ~√k expected supers; materialized once (it feeds c2s, every vector's
    // super assignment, and the super pair table)
    val supers = cents
      .filter(pmod(xxhash64(col("cid")), lit(s)) === 0)
      .select(col("cid").as("sid"), col("cvec").as("svec"))
      .localCheckpoint()
    // hash degeneracy (possible only at tiny k, kept for safety): no super
    // selected → stay flat rather than divide by an empty level
    if (supers.isEmpty) return Quantizer(cents, None, k)
    val c2s = cents.crossJoin(broadcast(supers))
      .select(col("cid"), col("cvec"), col("sid"),
        cos(col("cvec"), col("svec")).as("cssim"))
      .groupBy(col("cid"))
      .agg(max_by(struct(col("cvec"), col("sid"), col("cssim")),
        struct(col("cssim"), (-col("sid")).as("ns"))).as("w"))
      .select(col("cid"), col("w.cvec").as("cvec"), col("w.sid").as("sid"),
        col("w.cssim").as("cssim"))
      .localCheckpoint()
    Quantizer(cents, Some((supers, c2s)), k)
  }

  /** The ANN-SEARCH quantizer default: 13 cells — every `% 40` centroid of
    * the gate corpus (500 vectors, ids 0…480 < 520), so gated results are
    * unchanged, but the count no longer grows with the corpus. */
  val DefaultMaxCentroids = 13

  /** FIXED-K deterministic centroid table for the ANN SEARCH paths:
    * `vec_id % mod == 0 AND vec_id < mod·maxK`. An IVF quantizer's cell
    * count is a design PARAMETER (recall/probe-cost trade), not a
    * corpus-proportional artifact — the unbounded `% mod` rule grew the
    * centroid table 18× at the sf1 probe and made assignment cost look
    * ~100× when the engine's design is fixed-k (the trained path,
    * [[trainCentroids]], has always been fixed-k). Search recall at a
    * larger corpus is governed by nProbe/maxK chosen for that corpus, as
    * in production IVF. */
  private def centroidsFixedK(
      embeddings: DataFrame, centroidMod: Int, maxK: Int): DataFrame =
    embeddings.filter(col("vec_id") % centroidMod === 0 &&
        col("vec_id") < centroidMod.toLong * maxK)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** IVF coarse quantizer: nearest centroid per vector (broadcast NL join
    * over a handful of centroids; deterministic (csim DESC, cid ASC) ties).
    * Shared by the inline search and the persisted index so the two can
    * never diverge. */
  private def assignToCentroids(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignToCentroidsWithSim(embeddings, cents)
      .select(col("vec_id"), col("embedding"), col("cid"))

  /** [[assignToCentroids]] keeping the winning cosine (`csim`) — the bucketed
    * near-dup join derives its pruning radius from the worst assignment. */
  private def assignToCentroidsWithSim(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignToCentroidsWithSim(embeddings, quantizerOf(cents))

  /** Per-row nearest-entry argmax over a broadcast directory
    * `array<struct<id, vec>>`: returns `struct(sim, id)` of the winner
    * under (cosine DESC, id ASC) — the native
    * [[graft.functions.NearestInDir]] kernel (same f32 cosine, Spark's own
    * float total order, so the result is bit-for-bit the argmax the old
    * crossJoin+max_by aggregate produced; see the expression scaladoc).
    *
    * This is the round-14 payload-light form: the old shape shipped every
    * vector THROUGH a groupBy(vec_id) argmax exchange — one full-payload
    * corpus shuffle per quantizer level (the x57 event-log decomposition,
    * REVIEW_r13 §7 addendum) — purely to re-group rows that were never
    * split: each vector's k candidate rows are born in one map task from a
    * broadcast join. The kernel computes the same argmax in place; the
    * embedding never leaves its scan-side partition. (A Column-space
    * `aggregate` fold was tried first: same shape, but interpreted
    * per-candidate struct allocation cost 2–9× the old argmax stage with
    * JIT-sensitive variance — BENCH_notes_r14 §1.) */
  private def nearestInDir(emb: Column, dir: Column): Column =
    call_function("nearest_in_dir", emb, dir)

  /** Quantizer-aware assignment. Flat: argmax over all k centroids (exact
    * nearest). Two-level: argmax over ~√k supers, then argmax over that
    * super's member centroids — ~2·√k cosines per vector instead of k. The
    * two-level winner can differ from the flat nearest near super-group
    * boundaries; that only widens the affected cell's pruning radius
    * (csim is the ACTUAL assignment cosine either way), it cannot change
    * any operator's output.
    *
    * Both levels are SHUFFLE-FREE: the directory (all centroids flat; the
    * supers, then each super's members, two-level) is packed into one
    * broadcast row of `array<struct<id, vec>>` and every vector folds over
    * it in place ([[nearestInDir]]) — the per-level broadcast is the same
    * O(k) table the old crossJoin form broadcast, but no argmax exchange
    * re-ships the corpus. An EMPTY centroid table yields an empty result
    * (the old crossJoin semantics), via the size(dir) > 0 filter. */
  private def assignToCentroidsWithSim(embeddings: DataFrame, q: Quantizer): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    q.sup match {
      case None =>
        val dir = q.cents
          .agg(collect_list(struct(col("cid").as("id"), col("cvec").as("vec"))).as("dir"))
        embeddings.crossJoin(broadcast(dir))
          .filter(size(col("dir")) > 0)
          .withColumn("w", nearestInDir(col("embedding"), col("dir")))
          .select(col("vec_id"), col("embedding"),
            col("w.id").as("cid"), col("w.sim").as("csim"))
      case Some((supers, c2s)) =>
        val sdir = supers
          .agg(collect_list(struct(col("sid").as("id"), col("svec").as("vec"))).as("sdir"))
        val v2s = embeddings.crossJoin(broadcast(sdir))
          .filter(size(col("sdir")) > 0)
          .withColumn("ws", nearestInDir(col("embedding"), col("sdir")))
          .select(col("vec_id"), col("embedding"), col("ws.id").as("sid"))
        // per-super member directory, broadcast-joined on the winning sid
        // (a super with no member centroids drops its vectors — the same
        // inner-join semantics the old form had)
        val cdir = c2s.groupBy(col("sid"))
          .agg(collect_list(struct(col("cid").as("id"), col("cvec").as("vec"))).as("cdir"))
        v2s.join(broadcast(cdir), Seq("sid"))
          .withColumn("w", nearestInDir(col("embedding"), col("cdir")))
          .select(col("vec_id"), col("embedding"),
            col("w.id").as("cid"), col("w.sim").as("csim"))
    }
  }

  def annIvf(
      embeddings: DataFrame,
      queryVecId: Long = 0L,
      k: Int = 10,
      centroidMod: Int = 40,
      nProbe: Int = 12,
      maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    val cents = centroidsFixedK(embeddings, centroidMod, maxCentroids)
    val assigned = assignToCentroids(embeddings, cents)
    // probe list: nProbe centroids nearest to the query vector
    val qvec = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
    val probes = cents.crossJoin(broadcast(qvec))
      .select(col("cid"), cos(col("qvec"), col("cvec")).as("psim"))
      .orderBy(col("psim").desc, col("cid").asc)
      .limit(nProbe)
      .select(col("cid"))
    assigned
      .join(broadcast(probes), Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qvec))
      .select(col("vec_id"), round6f(cos(col("qvec"), col("embedding"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * Diagnostic recall census of the IVF configuration against exact
   * brute-force search — the vector-side sibling of
   * [[graft.operators.DedupOps.lshRecallCensus]]. For every query vector
   * in a deterministic id-mod sample, the exact cosine top-k is compared
   * with the top-k restricted to the query's `nProbe` probed cells (the
   * same centroid/probe rules as [[annIvf]]); the census reports exact
   * integers — queries, summed overlap, worst per-query overlap — plus the
   * recall ratio (single division, rounded). Run it to decide whether a
   * corpus's (centroids, nProbe) point is acceptable BEFORE building the
   * index at scale; the exact side is a queries×corpus scan by design
   * (a sampled diagnostic, not a production search path).
   *
   * Plan shape: one crossJoin of the sampled queries against the assigned
   * corpus, ONE shuffle on qid, then both rankings as back-to-back window
   * passes over the same partitioning (the IVF rank re-sorts only the
   * probed subset); overlap is a semi-join of the two top-k id sets.
   *
   * The sample is a FIXED-SIZE slice (`vec_id % queryMod` AND
   * `vec_id < queryCap`), the same idiom as [[hardNegatives]]: without the
   * cap the query count grows with the corpus and the exact ground-truth
   * scan is O(n²/queryMod) — the round-11 probe measured 38 s and 24 GB of
   * spill at 30×-distinct for a CONSTANT-SIZE census verdict. With the cap
   * the exact side is O(queryCap/queryMod · n): linear in the corpus, and
   * the census is still an unbiased recall estimate (the id slice is
   * content-independent). The cap never binds at the gate SFs
   * (≤ 2000 vectors), so gated results are unchanged.
   */
  def ivfRecallCensus(
      embeddings: DataFrame,
      k: Int = 10,
      centroidMod: Int = 40,
      nProbe: Int = 12,
      queryMod: Int = 29,
      maxCentroids: Int = DefaultMaxCentroids,
      queryCap: Long = 5000L): DataFrame =
    ivfRecallCensusWith(embeddings, k,
      centroidsFixedK(embeddings, centroidMod, maxCentroids),
      nProbe, queryMod, queryCap)

  /** [[ivfRecallCensus]] with a caller-supplied centroid table — measures
    * the recall of e.g. a [[trainCentroids]] quantizer, whose cells a
    * trained corpus clusters far more tightly than the deterministic
    * `% mod` subset can. */
  def ivfRecallCensusWith(
      embeddings: DataFrame,
      k: Int,
      cents: DataFrame,
      nProbe: Int,
      queryMod: Int,
      queryCap: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignToCentroids(embeddings, cents)
    val queries = embeddings
      .filter(col("vec_id") % queryMod === 0 && col("vec_id") < queryCap)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"), cos(col("qvec"), col("cvec")).as("psim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("psim").desc, col("cid").asc)))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"), lit(true).as("probed"))
    val scored = broadcast(queries).crossJoin(assigned)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cid"),
        cos(col("qvec"), col("embedding")).as("sim"))
      .join(broadcast(probes), Seq("qid", "cid"), "left_outer")
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ranked = scored.withColumn("rn_exact", row_number().over(wTop))
    val exactTop = ranked.filter(col("rn_exact") <= k)
      .select(col("qid"), col("vec_id"))
    val ivfTop = ranked.filter(col("probed"))
      .withColumn("rn_ivf", row_number().over(wTop))
      .filter(col("rn_ivf") <= k)
      .select(col("qid"), col("vec_id"))
    val overlap = exactTop.join(ivfTop, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("ov"))
    queries.select(col("qid"))
      .join(overlap, Seq("qid"), "left_outer")
      .select(coalesce(col("ov"), lit(0L)).as("ov"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("ov")).as("sum_overlap"),
        min(col("ov")).as("min_overlap"),
        round(sum(col("ov")).cast("double")
          / (count(lit(1)) * k).cast("double"), 4).as("recall"))
  }

  /**
   * The persisted form of the IVF index: the centroid assignment written as
   * parquet `partitionBy(cid)`. Probing then IS partition pruning — a query
   * that touches `nProbe` centroids lists only those directories, so search
   * cost scales with probed cells, not corpus size (verified in
   * SimilarityIndexSpec via the scan's selected-partition count).
   */
  def buildIvfIndex(
      embeddings: DataFrame,
      path: String,
      centroidMod: Int = 40,
      maxCentroids: Int = DefaultMaxCentroids): Unit =
    buildIvfIndexWith(embeddings, path,
      centroidsFixedK(embeddings, centroidMod, maxCentroids))

  /** Persist ONLY the centroid table — the quantizer bootstrap for
    * streaming ingest ([[graft.streaming.CorpusStream.ivfIngestBatch]]):
    * fix the quantizer first, then every micro-batch appends under it via
    * [[appendIvfIndex]], so the streamed store is row-identical to a batch
    * [[buildIvfIndexWith]] over the union (the append contract). */
  def writeIvfCentroids(
      embeddings: DataFrame,
      path: String,
      centroidMod: Int = 40,
      maxCentroids: Int = DefaultMaxCentroids): Unit =
    centroidsFixedK(embeddings, centroidMod, maxCentroids)
      .write.mode("overwrite").parquet(s"${path}_centroids")

  /** [[buildIvfIndex]] with a caller-supplied centroid table (cid, cvec) —
    * e.g. one trained by [[trainCentroids]]. */
  def buildIvfIndexWith(
      embeddings: DataFrame,
      path: String,
      cents: DataFrame): Unit = {
    // Centroid table persisted BESIDE the index: probe selection reads only
    // this tiny table (O(#centroids)), never the corpus — and recovering
    // centroids from the index itself would lose any centroid whose vector
    // ties into a different cell (e.g. exact-duplicate embeddings).
    cents.write.mode("overwrite").parquet(s"${path}_centroids")
    assignToCentroids(embeddings, cents)
      .write.mode("overwrite").partitionBy("cid").parquet(path)
  }

  /**
   * Train IVF centroids with k-means|| (Spark ML) on the embedding column —
   * the quantizer a real corpus needs for balanced cells; the deterministic
   * `vec_id % mod` subset stays the default for oracle-reproducible paths.
   * Training uses the cosine distance measure (spherical k-means), matching
   * the cosine cell assignment; zero vectors are not admissible under it.
   * Returns (cid, cvec float32) shaped like [[buildIvfIndex]]'s centroid
   * table. Deterministic for a fixed seed and input partitioning.
   */
  def trainCentroids(
      embeddings: DataFrame,
      k: Int,
      seed: Long = 42L,
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    val feats = embeddings.select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setInitMode("k-means||")
      .setDistanceMeasure("cosine")
      .fit(feats)
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toIndexedSeq
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat).toSeq) }
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
  }

  /**
   * Append a batch of NEW vectors to a persisted IVF index — the growing
   * corpus costs one batch assignment, never a rebuild (the IVF sibling of
   * [[graft.operators.DedupOps.appendLshStore]]). Assignment is per-row
   * against the PERSISTED centroid table, so append-then-query is
   * row-identical to a full rebuild with the same centroids
   * (SimilarityIndexSpec pins this); parquet append into `partitionBy(cid)`
   * keeps probing = partition pruning. Re-train + rebuild only when drift
   * makes the recall census ([[ivfRecallCensusWith]]) unacceptable.
   */
  def appendIvfIndex(newVectors: DataFrame, path: String): Unit =
    assignedForIndex(newVectors, path)
      .write.mode("append").partitionBy("cid").parquet(path)

  /** The assignment half of [[appendIvfIndex]] — the new vectors joined to
    * their nearest centroid from the index's persisted quantizer. Exposed
    * so the streaming sink can route the assigned rows through its own
    * exactly-once append ([[graft.sources.IdempotentAppend]]) instead of a
    * bare `mode("append")`: a duplicated vector row is not log noise, it
    * surfaces TWICE in a top-k. */
  def assignedForIndex(newVectors: DataFrame, path: String): DataFrame =
    assignToCentroids(newVectors,
      newVectors.sparkSession.read.parquet(s"${path}_centroids"))

  /**
   * RETIRE vectors from a persisted IVF index — the removed/changed half of
   * snapshot maintenance, mirroring
   * [[graft.operators.DedupOps.retireLshStore]]: ids append to
   * `<path>_tombstones` (O(batch), no index rewrite), and
   * [[queryIvfIndexLive]] subtracts them at read time. The per-snapshot
   * protocol is the same: retire(stale) → [[compactIvfIndex]] →
   * [[appendIvfIndex]](delta) — a changed vector re-appends under its old
   * vec_id, so the physical drop must land between retire and re-append.
   * That drop is the one commit for every table rewrite, and deletes only
   * the tombstones it read: a retirement landing mid-compaction stays.
   */
  def retireIvfIndex(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id")).write.mode("append").parquet(s"${path}_tombstones")

  /** Physically drop tombstoned vectors, on the one commit for every table
    * rewrite: the index commits through [[Maintenance.rewrite]] in its
    * partitionBy(cid) layout (probing stays partition pruning), refusing
    * while an `ivfIngestBatch` append is unresolved, and only the tombstone
    * files read are deleted, last — a vector or a retirement appended
    * mid-compaction survives it (see [[Maintenance.dropRetired]]). */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactIvfIndex(spark, path, Maintenance.fileSystem(spark, path))

  private[graft] def compactIvfIndex(spark: SparkSession, path: String, fs: FileSystem): Unit =
    Maintenance.dropRetired(spark, fs, new Path(s"${path}_tombstones"), "vec_id",
      IdempotentAppend.markerDir(new Path(path)), Seq(new Path(path)), Seq("cid"))

  /** [[queryIvfIndex]] against the LIVE view of a possibly-tombstoned
    * index path: subtracts `<path>_tombstones` when present (broadcast
    * anti-join, O(tombstones) between compactions). */
  def queryIvfIndexLive(
      spark: SparkSession,
      path: String,
      queryVec: DataFrame,
      queryVecId: Long,
      k: Int = 10,
      nProbe: Int = 12): DataFrame = {
    val tombstones = new Path(s"${path}_tombstones")
    queryIvfIndex(Maintenance.withoutRetired(spark.read.parquet(path), tombstones, "vec_id"),
      spark.read.parquet(s"${path}_centroids"), queryVec, queryVecId, k, nProbe)
  }

  /** Query the persisted IVF index: prune to the `nProbe` closest cells.
    * `centroidsPath` defaults to the table [[buildIvfIndex]] wrote. */
  def queryIvfIndex(
      index: DataFrame,
      centroids: DataFrame, // the `${path}_centroids` table (cid, cvec)
      queryVec: DataFrame,  // 1 row: (qvec array<float>)
      queryVecId: Long,
      k: Int = 10,
      nProbe: Int = 12): DataFrame = {
    val probes = centroids.crossJoin(broadcast(queryVec))
      .select(col("cid"), cos(col("qvec"), col("cvec")).as("psim"))
      .orderBy(col("psim").desc, col("cid").asc)
      .limit(nProbe)
      // partition-column inference may narrow cid to int on read-back
      .collect().map(_.get(0).toString.toLong)
    index
      .filter(col("cid").isin(probes.toIndexedSeq: _*)) // partition pruning on the index
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(queryVec))
      .select(col("vec_id"), round6f(cos(col("qvec"), col("embedding"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * x115: embedding sanity census — the QA gate every ANN/semantic-dedup
   * consumer of the `embeddings` table assumes and nothing previously
   * checked: dimension consistency, all-zero vectors (cosine = NaN
   * downstream), non-finite components (one NaN poisons a whole IVF cell's
   * centroid), and the squared-L2-norm envelope. Norms come from the
   * codegen'd `dot_f32(v, v)` — the same sequential-f32 arithmetic as the
   * oracle's `list_dot_product` (bit-exact, like its cosine sibling) —
   * quantized once to nano resolution, where unit-normalized f32 vectors
   * are NON-degenerate (they straddle 1e9 by a few hundred nanos; micro
   * resolution would collapse them all to 1.0). Non-finite vectors are
   * excluded from the norm envelope (a NaN min/max says nothing), counted
   * instead.
   *
   * Scale shape: one scan, per-row codegen'd expressions, one aggregation
   * row — the cheapest possible pre-flight before an IVF build.
   */
  def embeddingSanityCensus(embeddings: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val v = col("embedding")
    val bad = exists(v, x => isnan(x) ||
      x === lit(Float.PositiveInfinity) || x === lit(Float.NegativeInfinity))
    val zeroVec = forall(v, x => x === lit(0f))
    val n2nano = floor(
      call_function("dot_f32", v, v).cast("double") * lit(1e9) + lit(0.5))
      .cast("long")
    embeddings
      .select(size(v).cast("long").as("dim"), bad.as("bad"), zeroVec.as("z"),
        when(!bad, n2nano).as("n2"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(when(col("z"), 1L).otherwise(0L)).as("zero_vecs"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("nonfinite_vecs"),
        min(col("n2")).as("min_norm2_nano"),
        max(col("n2")).as("max_norm2_nano"),
        sum(when(col("n2") < 1000000000L, 1L).otherwise(0L)).as("sub_unit"),
        sum(when(col("n2") > 1000000000L, 1L).otherwise(0L)).as("super_unit"))
  }

  /** E4: multimodal join — text corpus ⋈ embedding store on id, grouped counts. */
  def multimodalJoin(documents: DataFrame, embeddings: DataFrame): DataFrame =
    documents.join(embeddings, col("doc_id") === col("vec_id"))
      .groupBy(col("lang"), col("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("label"))
}
