package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Lexical retrieval + lexical-statistics operators over the `documents`
 * table — the keyword-search complement of [[SimilarityOps]]' vector stack
 * (SURVEY.md §2.4 north-star surface). A training-data pipeline uses these
 * for targeted corpus probes ("which documents mention X", dataset search
 * UIs) and for rarity-based quality signals.
 *
 * Design rules shared with [[TextOps]]:
 *  - per-row column expressions wherever possible — the BM25 scorer never
 *    explodes the corpus (term frequencies for a FIXED query term list are
 *    per-row `filter(ws, _ = t)` counts), so scoring is one scan plus a
 *    single-row stats broadcast;
 *  - cross-engine determinism: every float operation is a fixed-order
 *    IEEE +,-,*,/ chain over exact integers (no transcendentals — see
 *    [[bm25TopK]]'s rational-idf note), so results hash-gate bit-for-bit
 *    against the DuckDB oracle.
 */
object SearchOps {

  private def ws: Column = TextOps.words(col("text"))

  /**
   * BM25 top-k retrieval for a fixed term list, with a RATIONAL idf.
   *
   * Standard BM25 weights each term by `ln((N - df + 0.5)/(df + 0.5) + 1)`.
   * `ln` is the one piece that is NOT bit-stable across engines (Java's
   * `Math.log` intrinsic and DuckDB's libm are each ≤1 ulp but not the
   * SAME ulp), so this operator keeps the raw odds ratio
   * `(N - df + 0.5)/(df + 0.5)` as the idf — monotone in the classic idf,
   * always positive, and computable with division only. Every remaining
   * operation is a fixed-order IEEE double chain evaluated identically
   * here and in the oracle SQL; term scores sum left-to-right in term-list
   * order. The tf saturation is the standard
   * `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
   *
   * Scale shape: term frequencies are per-row expressions (the term list
   * is a small constant — no corpus explode, no per-term shuffle); corpus
   * stats (N, Σdl, per-term df) reduce to ONE row broadcast back over the
   * scan; the result is a `TakeOrderedAndProject` top-k. Total cost: two
   * scans of (doc_id, text) and a k-row sort — no join shuffle at all.
   *
   * Docs matching no term are excluded (integer tf-sum guard, not a float
   * compare). Ties break toward the smaller doc_id.
   */
  /**
   * x131: two-stage retrieval — lexical BM25 candidates re-ranked by
   * embedding cosine against a query vector (the standard
   * retrieve-then-rerank RAG shape: the cheap sparse scorer casts a wide
   * net over the corpus, the dense scorer orders the shortlist). Stage 1
   * is [[bm25TopK]] (two scans + a k-row TakeOrdered, no shuffle); stage 2
   * touches ONLY the `kRetrieve` shortlist rows — an id-keyed join against
   * the embedding store (at scale: a point-lookup-friendly join against
   * the IVF store's id partitioning) and a `kFinal`-row sort. The corpus
   * is never scored densely — that is the entire economics of the
   * two-stage design.
   *
   * Documents and embeddings correlate by id (`doc_id = vec_id`, the
   * fixture's contract). Cosine goes through the codegen'd f32 expression
   * + round6f like every other gated similarity.
   */
  def retrieveRerank(
      documents: DataFrame,
      embeddings: DataFrame,
      terms: Seq[String],
      kRetrieve: Int = 20,
      kFinal: Int = 5,
      queryVecId: Long = 0L): DataFrame = {
    require(kFinal <= kRetrieve, "the re-ranked cut cannot exceed the shortlist")
    val shortlist = bm25TopK(documents, terms, kRetrieve).select(col("doc_id"))
    val qvec = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
    shortlist
      .join(embeddings, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(qvec))
      .select(col("doc_id"),
        SimilarityOps.round6f(SimilarityOps.cos(col("qvec"), col("embedding"))).as("sim"))
      .orderBy(col("sim").desc, col("doc_id").asc)
      .limit(kFinal)
  }

  /**
   * x145: triangle census over the word co-occurrence graph — the third
   * member of the engine's distributed-graph family (components = x34,
   * power iteration = x132, triangles = the two-hop-join shape neither of
   * those exercises). A triangle means three words that all co-occur
   * pairwise — tightly bound collocation cliques; a word's triangle count
   * is its local clustering mass.
   *
   * Algorithm: canonical edges `u < v`; wedges from joining edges on the
   * shared middle vertex with `u < v < w` (each triangle forms exactly ONE
   * ordered wedge, so nothing is double-counted); the closing edge
   * confirmed by a semi-join back to the edge set. Per-word participation
   * re-attributes each triangle to its three corners via one explode.
   *
   * Scale shape: edge and wedge relations are VOCABULARY-sized, joins are
   * keyed (vertex, then edge pair), and the ordered-wedge trick bounds
   * work by Σ deg(v)² over the middle vertex — the standard distributed
   * triangle bound. Top-k corners via TakeOrdered.
   */
  def triangleCensus(documents: DataFrame, k: Int = 10): DataFrame = {
    val adj = adjacentWordPairs(documents)
    val edges = adj.select(
      least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val wedges = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("u"), col("e1.b").as("v"), col("e2.b").as("w"))
    val triangles = wedges.join(edges,
        col("u") === col("a") && col("w") === col("b"), "left_semi")
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("triangles"))
      .orderBy(col("triangles").desc, col("word").asc)
      .limit(k)
  }

  /**
   * x141: sparse tf-idf retrieval through an INVERTED-INDEX join — the
   * lexical twin of [[SimilarityOps.topkCosine]]: score(q, d) =
   * Σ_{t ∈ q∩d} w_q(t)·w_d(t) with `w = tf · idf_milli` and the RATIONAL
   * idf `⌊1000·N/df⌋` (integral division — exact in any engine, the same
   * determinism argument as [[bm25TopK]]'s odds-ratio idf). Unlike BM25's
   * fixed term list, the QUERY IS A DOCUMENT: its whole term vector joins
   * the posting lists, which is the e-commerce/more-like-this shape.
   *
   * Scale shape: the (doc, term, tf) relation joins the (small, broadcast)
   * query vector on the term key — the inverted-index probe — so only
   * documents sharing a query term are ever scored. Terms present in more
   * than `maxDfPermille`‰ of the corpus are dropped from BOTH sides first
   * (stopword-class terms contribute near-zero idf weight but quadratic
   * posting-list mass — the classic posting-list bound, RELATIVE so the
   * same cut scales with the corpus; the cut is part of the operator's
   * declared semantics, not an approximation of this query). Score sums
   * are exact longs (tf·idf_milli products bounded by tf²·idf² · shared
   * terms).
   */
  def sparseTopK(
      documents: DataFrame,
      queryDocId: Long = 0L,
      k: Int = 10,
      maxDfPermille: Int = 780): DataFrame = {
    require(maxDfPermille > 0 && maxDfPermille <= 1000, "permille cap in (0, 1000]")
    val tf = documents.select(col("doc_id"), explode(ws).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 1000L <= lit(maxDfPermille.toLong) * col("n_docs"))
    val weighted = tf.join(dfT, "term")
      .select(col("doc_id"), col("term"),
        (col("tf") * expr("(1000L * n_docs) DIV df")).as("w"))
    val qv = weighted.filter(col("doc_id") === queryDocId)
      .select(col("term"), col("w").as("wq"))
    weighted.filter(col("doc_id") =!= queryDocId)
      .join(broadcast(qv), "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("w") * col("wq")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /**
   * x132: TextRank keyword extraction — PageRank power iteration over the
   * word co-occurrence graph (Mihalcea & Tarau, "TextRank: Bringing Order
   * into Texts", public paper; damping 0.85 per Brin & Page). Nodes are
   * corpus words, edges are ADJACENT-word co-occurrences (window 2,
   * symmetric, self-loops dropped) weighted by count; each iteration
   * scores `r'(v) = 0.15 + 0.85·Σ_u r(u)·w(u,v)/W(u)` with `W(u)` the
   * node's total outgoing weight.
   *
   * Determinism: ranks are MICRO fixed-point longs (start 1e6); each
   * edge's contribution is the integral `⌊85·r·w / (100·W)⌋` — products in
   * DECIMAL(38,0) (the x77 overflow rule: at web-corpus mass `r·w`
   * overflows a long), the per-edge floor applied BEFORE the sum, so
   * summation order cannot move a digit and both engines replay the exact
   * same integer sequence. The oracle unrolls the same `iters` rounds as
   * chained CTEs.
   *
   * Scale shape: the graph is VOCABULARY-sized, not corpus-sized — the one
   * corpus pass builds (u, v, w) with map-side partial counts; each of the
   * `iters` rounds is one vocab-keyed join + one aggregation, checkpointed
   * so the plan stays flat (the [[DedupOps.connectedComponents]] loop
   * discipline). Word ranks converge in ~10 rounds; `iters` is a fixed
   * constant, not data-dependent.
   */
  /** Adjacent-word pairs (window 2, self-loops dropped) — the raw directed
    * co-occurrence relation shared by the graph family (x132 TextRank,
    * x145 triangles). One corpus scan, per-row expression work only. */
  private[operators] def adjacentWordPairs(documents: DataFrame): DataFrame =
    documents.select(ws.as("w")).filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS u, w[i+1] AS v))")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v"))

  def textRankKeywords(documents: DataFrame, iters: Int = 10, k: Int = 20): DataFrame = {
    require(iters >= 1 && k >= 1, "need at least one iteration and k >= 1")
    val adj = adjacentWordPairs(documents)
    val edges = adj
      .unionAll(adj.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val outW = edges.groupBy(col("u")).agg(sum(col("w")).as("tw"))
    // (u, v, w, tw) reused every round — materialize once, plan stays
    // flat. A round-17 attempt to replace this checkpoint with a cached
    // u-partitioned relation (the connectedComponents big-graph layout,
    // so at-scale SMJ rounds would never re-exchange the edge table) was
    // MEASURED and REVERTED: the isolated A/B read x132 raw 1.217 (the
    // cache's columnar round-trip per round plus the extra layout
    // exchange cost ~0.5 s at gate scale for a benefit only reachable
    // when the frontier outgrows the broadcast threshold, which no gated
    // fixture does — docs/BENCH_ab_textrank_r17.json). An adaptive split
    // like the components loop's would need an edge-count job this
    // 10-round fixed-iteration operator has nowhere to amortize.
    val ew = edges.join(outW, "u").localCheckpoint()
    // ROUND COMPOSITION (round 18, the r17 "Not yet optimized" #2): the old
    // loop localCheckpoint'ed EVERY round — 10 checkpoint materializations
    // plus their driver round-trips (~37 jobs/execution in the labeled
    // event-log profile). The rounds now compose LAZILY into one plan: AQE
    // still materializes each round's aggregation exchange as its own query
    // stage (so per-round shuffles, broadcasts, and fault-tolerance via
    // shuffle files are unchanged at every scale), but the 10 block-manager
    // round-trips, the per-round eager-release bookkeeping, and the initial
    // `distinct` job all disappear. Plan depth is bounded by `iters` (a
    // fixed small constant, never data-dependent).
    //
    // Round 1 is FOLDED: the initial rank is the constant 1,000,000 over
    // exactly ew's symmetric u-domain (every node of the graph — edges are
    // symmetric by construction, so distinct(u) = distinct(v) = the node
    // set), so joining that constant frontier is algebraically the direct
    // aggregation below with r ≡ 1000000 substituted into the per-edge
    // integral floor. Values are bit-identical by substitution; the
    // distinct + round-1 join/broadcast are pure savings.
    def step(prev: DataFrame): DataFrame =
      ew.join(prev, ew("u") === prev("word"))
        .select(col("v"), expr(
          // per-edge floor BEFORE the sum: order-independent exact integers
          "CAST((CAST(85 AS DECIMAL(38,0)) * r * w) DIV " +
            "(CAST(100 AS DECIMAL(38,0)) * tw) AS BIGINT)").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("in"))
        .select(col("v").as("word"), (lit(150000L) + col("in")).as("r"))
    var r = ew
      .select(col("v"), expr(
        "CAST((CAST(85 AS DECIMAL(38,0)) * 1000000 * w) DIV " +
          "(CAST(100 AS DECIMAL(38,0)) * tw) AS BIGINT)").as("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("in"))
      .select(col("v").as("word"), (lit(150000L) + col("in")).as("r"))
    for (_ <- 2 to iters) r = step(r)
    r.select(col("word"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word").asc)
      .limit(k)
  }

  def bm25TopK(
      documents: DataFrame,
      terms: Seq[String],
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one term")
    val tf = terms.zipWithIndex.map { case (t, i) =>
      size(filter(ws, w => w === lit(t))).cast("long").as(s"tf$i")
    }
    val perDoc = documents.select(
      col("doc_id") +: size(ws).cast("long").as("dl") +: tf: _*)
    val dfAggs = terms.indices.map { i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
    }
    val stats = perDoc.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sumdl") +: dfAggs: _*)
    val avgdl = col("sumdl") / col("n")
    val score = terms.indices.map { i =>
      val idf = (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
      idf * (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / avgdl)))
    }.reduce(_ + _)
    val anyHit = terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0
    perDoc.crossJoin(broadcast(stats))
      .filter(anyHit)
      .select(col("doc_id"), round(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /**
   * Rare-token density census — the "does this document use unusual
   * vocabulary" quality signal (the rarity complement of
   * [[TextOps.repetitionStats]]' redundancy signal). Every token
   * occurrence is weighted by its document frequency (how many documents
   * contain the token at least once); a document whose mean token df is
   * far below the corpus norm is either specialist content or noise, and
   * a pipeline routes it to review instead of blind inclusion.
   *
   * Exact-integer contract: per-document `sum_df` (Σ df over the doc's
   * token occurrences, with multiplicity) and `n_tokens` are exact longs;
   * `rare_docs` counts documents with `sum_df < n_tokens · maxMeanDf`
   * (integer cross-multiplication — no float compare); the per-language
   * `mean_df` is one double division of two exact corpus-level sums.
   *
   * Scale shape: explode → df aggregation per token (map-side partials)
   * → re-join occurrences to df on the token key → per-doc aggregation →
   * per-language census. Both shuffles are plain hash keys (token,
   * doc_id); token df skew is the zipfian head, which the map-side
   * partial absorbs before the shuffle.
   */
  /**
   * Heavy-hitter token detection via a bounded-memory Misra–Gries sketch
   * ([[graft.functions.MisraGriesAggregator]]) — one k-counter partial per
   * partition, merged pairwise, NO token-keyed shuffle — verified in the
   * same job against the exact counts. The sketch's CONTENT is
   * arrival-order-dependent (legitimately so), so the gated output is the
   * ORDER-INDEPENDENT verdict its guarantees make deterministic:
   *
   *  - `size_ok`: the merged sketch holds ≤ k counters;
   *  - `heavy_present`: every token with true count > n/(k+1) is in the
   *    sketch (integer cross-multiplied — no float compare);
   *  - `estimates_bounded`: sketch counts underestimate by at most
   *    n/(k+1) and never overestimate.
   *
   * Alongside exact `n_tokens` / `distinct_tokens` so the gate pins real
   * corpus numbers, not just tautologies. The exact side exists only to
   * judge the sketch; a production run keeps the sketch alone.
   */
  def heavyHittersVerdict(documents: DataFrame, k: Int = 8): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    val occ = documents.select(explode(ws).as("tok"))
    val sketch = occ.agg(mg(col("tok")).as("sk"))
      .select(explode(col("sk")).as(Seq("tok", "est")))
    val exact = occ.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(
      sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"))
    exact.join(sketch, Seq("tok"), "full_outer")
      .crossJoin(broadcast(tot))
      .agg(
        max(col("n")).as("n_tokens"),
        max(col("n_distinct")).as("distinct_tokens"),
        (sum(when(col("est").isNotNull, 1L).otherwise(0L)) <= k).as("size_ok"),
        min(when(col("cnt") * (k + 1) > col("n"), col("est").isNotNull)
          .otherwise(lit(true))).as("heavy_present"),
        min(when(col("est").isNotNull,
            col("cnt") - col("est") >= 0 &&
              (col("cnt") - col("est")) * (k + 1) <= col("n"))
          .otherwise(lit(true))).as("estimates_bounded"))
  }

  def rareTokenCensus(documents: DataFrame, maxMeanDf: Long = 50L): DataFrame = {
    val occ = documents.select(col("doc_id"), col("lang"), explode(ws).as("tok"))
    val dfPerTok = occ.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val perDoc = occ.join(dfPerTok, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("df")).as("sum_df"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("tokens"),
        round(sum(col("sum_df")).cast("double") / sum(col("n_tokens")), 6)
          .as("mean_df"),
        sum(when(col("sum_df") < col("n_tokens") * maxMeanDf, 1L).otherwise(0L))
          .as("rare_docs"))
      .orderBy(col("lang"))
  }

  /**
   * x85: tf-idf top-k keywords per document — the classic document
   * representation (salient terms = high in-doc frequency, low corpus
   * document frequency), used for dataset-search snippets, topic tagging,
   * and as a cheap doc signature for clustering.
   *
   * Determinism: idf `ln((N+1)/(df_t+1))` is quantized ONCE per distinct
   * term to a micro-nat integer, the score `tf · idf_q` is an exact
   * integer product, and ranking breaks score ties by the term string —
   * total order, so both engines pick identical keyword sets.
   *
   * Scale shape: term frequencies are one (doc, term)-keyed partial-agg
   * groupBy; document frequencies RE-AGGREGATE that relation (one row per
   * posting, never re-exploding the corpus); N is a single-row broadcast;
   * the top-k window partitions by doc_id — hash-distributed, bounded by
   * per-doc vocabulary, never a global sort.
   */
  def tfidfKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents.select(col("doc_id"), explode(ws).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfPerTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfPerTerm, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * floor(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          * lit(1e6) + lit(0.5)).cast("long")).as("score_micro"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score_micro").desc, col("term"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_micro"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /**
   * x97: Zipf rank–frequency slope over the top-`k` tokens — the second
   * corpus-shape diagnostic alongside [[TextOps.vocabGrowth]]'s Heaps
   * curve: natural text shows `freq ∝ rank^s` with s ≈ −1 on a log–log
   * plot; a much flatter slope means template recycling, a much steeper
   * one a vocabulary collapse. Reported as the OLS fit of `ln(freq)` on
   * `ln(rank)` with the exact sums carried as integers.
   *
   * Determinism: ranks come from a TOTAL order (count desc, token asc — a
   * `TakeOrderedAndProject`, never a global sort), each `ln` is quantized
   * ONCE to micro-nats, and the OLS moments `Σx, Σy, Σxy, Σx²` are exact
   * decimal sums of integer products — the closed-form slope and intercept
   * each divide once at the end. The k-row ranked relation is tiny by
   * construction, so the single-partition `row_number` window over it is a
   * k-row job tail, not a corpus-wide choke point; everything corpus-sized
   * stays in the token-keyed partial-agg groupBy.
   */
  def zipfSlope(documents: DataFrame, k: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = documents.select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(k)
    val ranked = top.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
    val d38 = "decimal(38,0)"
    val pts = ranked.select(
      floor(log(col("r").cast("double")) * lit(1e6) + lit(0.5)).cast("long").as("x"),
      floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5)).cast("long").as("y"))
    pts.agg(
        count(lit(1)).as("k_fit"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x").cast(d38) * col("y"))).as("sxy"),
        sum((col("x").cast(d38) * col("x"))).as("sxx"))
      .select(col("k_fit"),
        olsSlope(col("k_fit"), col("sx"), col("sy"), col("sxy"), col("sxx"))
          .as("slope"),
        olsIntercept(col("k_fit"), col("sx"), col("sy"), col("sxy"), col("sxx"))
          .as("intercept"))
  }

  /**
   * x101: token burstiness census — the top-`k` tokens by variance-to-mean
   * ratio of their per-document counts (zeros included), the Church–Gale
   * signal separating TOPICAL tokens (bursty: absent from most docs, heavy
   * where present) from function words (evenly spread, VMR ≈ 1 under the
   * Poisson null). A curation pipeline reads this census to pick topic
   * carriers for mixing audits and to spot template artifacts (a boilerplate
   * token is EXTREMELY bursty).
   *
   * With zeros included the moments need only per-occurrence sums:
   * `VMR = (N·Σc² − (Σc)²)/(N·Σc)` over the N corpus docs — Σc and Σc² are
   * exact integer aggregates of the (doc, token) counts (decimal-carried;
   * Σc² approaches (corpus tokens)² on degenerate corpora), N is a
   * single-row broadcast, and the ratio is ONE division, quantized to
   * micros for a deterministic (vmr desc, token) TakeOrdered top-k.
   *
   * Scale shape: the (doc,token) count and the token-keyed moment reduce
   * are the same two partial-agg shuffles as [[TextOps.tokenEntropy]]; the
   * top-k is a k-row `TakeOrderedAndProject`, never a global sort.
   */
  def burstiness(documents: DataFrame, k: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val perDoc = documents
      .select(col("doc_id"), explode(ws).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val n = documents.agg(count(lit(1)).as("n"))
    perDoc.groupBy(col("w"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("c")).as("s1"),
        sum((col("c").cast(d38) * col("c"))).as("s2"))
      .crossJoin(broadcast(n))
      .withColumn("vmr_micro", floor(
        ((col("n").cast(d38) * col("s2") - col("s1").cast(d38) * col("s1"))
          .cast("double")
          / (col("n").cast(d38) * col("s1")).cast("double")) * lit(1e6) + lit(0.5))
        .cast("long"))
      .orderBy(col("vmr_micro").desc, col("w"))
      .limit(k)
      .select(col("w"), col("df"), col("s1"),
        col("s2").cast("long").as("s2"), col("vmr_micro"))
  }

  /** OLS slope from the exact decimal moments; micro scaling cancels in the
    * ratio, so the result is in nats/nat directly. Doubles enter only here,
    * one division. */
  private def olsSlope(
      n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column): Column =
    ((n.cast("decimal(38,0)") * sxy - sx * sy).cast("double")
      / (n.cast("decimal(38,0)") * sxx - sx * sx).cast("double"))

  /** OLS intercept `(Σy − slope·Σx)/n`, entirely from the same moments;
    * the 1e6 quantization divides back out at the end. */
  private def olsIntercept(
      n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column): Column =
    ((sy.cast("double") - olsSlope(n, sx, sy, sxy, sxx) * sx.cast("double"))
      / n.cast("double")) / lit(1e6)
}

