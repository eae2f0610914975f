package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IdempotentAppend, Maintenance}

/**
 * Near-duplicate detection over the `documents` table (SURVEY.md §2.4).
 *
 * Three independent detectors, each with a different scale profile:
 *  - [[minhashLsh]]   — MinHash signatures + LSH banding: candidate generation
 *    is an equi-join on band keys (shuffle-partitionable, no quadratic blowup);
 *    the exact Jaccard check runs only on candidates. This is the 100 TB path.
 *  - [[ngramJaccard]] — exact all-pairs Jaccard via a shingle equi-join
 *    (inverted-index style); cost governed by shingle-posting-list skew, used
 *    as ground truth for the LSH recall check.
 *  - [[simhash]]      — 32-bit SimHash fingerprints; Hamming-≤3 pairs found by
 *    pigeonhole banding on the 4 fingerprint bytes (any pair within distance 3
 *    must agree on ≥1 of 4 blocks) — again an equi-join, never all-pairs.
 *
 * All hashing is md5-based, so results are deterministic and reproducible in
 * the DuckDB oracle. MinHash minima compare md5 hex strings lexicographically
 * — equivalent to numeric order because the hex encoding is fixed-width.
 */
object DedupOps {

  val NumHashes = 16
  val Bands = 4 // 4 rows per band

  /**
   * Band-bucket width cap for [[minhashLsh]] pair generation. A bucket of
   * size b expands to b·(b−1)/2 candidate pairs; at the default cap the
   * worst single bucket yields ~8.4M pairs (one task, bounded seconds),
   * while an uncapped web-scale boilerplate bucket of 10⁶ docs would be a
   * multi-GB `collect_list` row and ~5·10¹¹ pairs on one core. Buckets
   * above the cap switch to the representative-star generator — see
   * [[minhashLsh]].
   */
  val DefaultMaxBucketSize = 4096

  /** Distinct word-3-gram shingles of the lowercased text (docs with <3 words
    * contribute their whole text as the single shingle).
    *
    * One-pass codegen'd expression ([[graft.functions.WordShingles]]) over
    * the split-once token array — the HOF form it replaces re-evaluated the
    * `split(lower(text))` subtree per lambda ELEMENT (O(words²) per doc,
    * 40 s of x65's 49 s at the 30×-distinct probe; the round-6 CDC-chunker
    * failure class). Value-identical including edges (equivalence
    * property-tested in WordShinglesSpec); the `when` keeps the legacy
    * null-text value `[""]` — the expression itself is null-in/null-out.
    * Callers' sessions must be [[graft.functions.GraftFunctions.register]]ed
    * (every operator entry point that shingles is). */
  def shingles(text: Column): Column =
    when(text.isNull, array(lit("")))
      .otherwise(graft.functions.GraftFunctions.wordShingles(
        TextOps.words(text), 3, wholeDocIfShort = true))

  /** Modulus of the universal hash family (2^31 - 1, prime). */
  val HashP = 2147483647L

  /**
   * Per-doc distinct-shingle relation, cached: it is consumed three times by
   * the LSH pipeline (banding + both verification join sides) and again by
   * the exact join — the in-memory analogue of persisting signatures beside
   * a 100 TB corpus instead of re-shingling per consumer. Spark dedupes the
   * cache entry by logical plan, so all dedup operators share it.
   *
   * `shv` carries the 60-bit md5-prefix hash of every shingle (the codegen'd
   * [[graft.functions.Md5PrefixLong]] — digest bytes to long, no hex-string
   * round trip), computed ONCE at cache materialization; MinHash and the
   * exact-join index both consume the hashes, the exact verification reads
   * the string arrays.
   */
  private[operators] def shingleRelation(documents: DataFrame): DataFrame =
    shingleRelationOf(documents).cache()

  /** The shingle relation WITHOUT the shared cache — for callers that
    * shingle a per-call subset (the curation funnel's exact-dedup
    * survivors) and manage their own persist/unpersist lifecycle: caching
    * a plan-keyed entry per subset would accrete one cache entry per
    * call, and shingling through the shared FULL-corpus entry would pay
    * to shingle every doc the caller has already decided to drop
    * (100× the survivor work on a replica-skewed corpus). */
  private[operators] def shingleRelationOf(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"), shingles(col("text")).as("sh"))
      .withColumn("shv",
        transform(col("sh"), s => graft.functions.GraftFunctions.md5PrefixLong(s, 15)))
  }

  /** Drop the shared shingle cache for `documents` (plan-keyed, so any
    * DataFrame with the same lineage hits the same entry). One-shot jobs can
    * skip this — the entry dies with the session; long-lived sessions (or
    * composite pipelines like the curation funnel) call it once the dedup
    * results are materialized. */
  def unpersistShingles(documents: DataFrame): Unit =
    shingleRelation(documents).unpersist()

  /**
   * Query-by-document similarity search: the top-k most Jaccard-similar
   * documents to `queryDocId` over the shared shingle relation — "find the
   * variants OF THIS document", the targeted complement of the corpus-wide
   * pair detectors. Ties break toward the smaller doc_id on the rounded
   * similarity, the same contract as every top-k in the engine.
   *
   * Scale shape: the query document's distinct shingles (bounded by ONE
   * document's length) broadcast to a semi-join over the exploded corpus
   * relation; common-shingle counts aggregate per doc_id (map-side
   * partials) and the result is a TakeOrderedAndProject. The corpus is
   * scanned once; nothing all-pairs anywhere.
   */
  def similarDocs(documents: DataFrame, queryDocId: Long, k: Int = 10): DataFrame = {
    val shs = shingleRelation(documents)
    val occ = shs.select(col("doc_id"), explode(col("sh")).as("s"))
    val qsh = occ.filter(col("doc_id") === queryDocId).select(col("s"))
    val qn = shs.filter(col("doc_id") === queryDocId)
      .select(size(col("sh")).as("nq"))
    occ.filter(col("doc_id") =!= queryDocId)
      .join(broadcast(qsh), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      .join(shs.select(col("doc_id"), size(col("sh")).as("na")), Seq("doc_id"))
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        round(col("c").cast("double")
          / (col("na") + col("nq") - col("c")).cast("double"), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_id"))
      .limit(k)
  }

  private def jaccard(sa: Column, sb: Column): (Column, Column) = {
    val inter = size(array_intersect(sa, sb))
    val j = inter.cast("double") / (size(sa) + size(sb) - inter).cast("double")
    (inter, j)
  }

  /**
   * MinHash + LSH near-dup pairs with exact-Jaccard confirmation ≥ threshold.
   * Output: (doc_a, doc_b, jaccard rounded to 4), doc_a < doc_b.
   *
   * Bounded-task guarantee: no task ever materializes more than
   * `maxBucketSize` ids or expands more than maxBucketSize²/2 pairs. Buckets
   * up to the cap pair all members (clique); a bucket above the cap is a
   * dense near-duplicate cluster (its members share an entire minhash band),
   * and emitting its full clique is both quadratic and useless for dedup —
   * instead every member is paired with the bucket's REPRESENTATIVE (its
   * minimum doc_id): one pair per row, the star reaches every member. The
   * downstream loser set matches the clique's exactly WHEN every cluster
   * member verifies ≥ threshold against the representative — always true
   * for identical-text clusters, and typical for the boilerplate clusters
   * that produce oversized buckets. A member whose Jaccard to the
   * representative falls below threshold while exceeding it to some other
   * non-representative member is reported only if another band pairs those
   * two directly — that is the star path's recall trade-off, characterized
   * by the near-identical-cluster property test in PropertiesSpec. Star
   * pairs still pass exact-Jaccard verification, so no false positive can
   * enter. Use [[lshBucketCensus]] to quantify how many buckets a corpus
   * caps, and [[lshRecallCensus]] to measure the effect.
   *
   * Verification completeness note (round 11): the exact-Jaccard confirm
   * stage pre-verifies candidates on 60-bit hashed shingle keys before the
   * string verify, so completeness-conditional-on-candidates is now
   * PROBABILISTIC, not absolute — a hash collision inside a pair's shingle
   * intersection can drag hashed Jaccard below threshold ≤ string Jaccard
   * and drop a true candidate at odds ~|A∩B|²·2⁻⁶¹ per pair (the same
   * failure class as the 60-bit MinHash signature itself, and orders of
   * magnitude below the detector's own band-miss rate). Precision is
   * still absolute: every reported pair passes the string-Jaccard verify.
   */
  def minhashLsh(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    minhashLshFrom(shingleRelation(documents), threshold, maxBucketSize)
  }

  /** [[minhashLsh]] over an explicit (possibly filtered) shingle relation —
    * lets [[lshRecallCensus]] sample the CACHED full-corpus relation
    * instead of materializing a second cache for the slice. */
  private[operators] def minhashLshFrom(shs: DataFrame, threshold: Double,
      maxBucketSize: Int): DataFrame = {
    // MinHash signature: one md5 per DISTINCT (doc, shingle), hash i derived
    // arithmetically as (v*(2i+1) + i) mod p — a universal-family draw with
    // deterministic coefficients, reproduced verbatim in the DuckDB oracle.
    //
    // Plan shape for scale: explode shingles → codegen'd per-row hashing →
    // ONE partial-agg shuffle keyed by doc_id computing all 16 minima
    // map-side. (Expression-level nested-HOF variants recompute the md5 once
    // per hash function — CollapseProject inlines the shared subexpression
    // into the outer lambda, which re-evaluates it 16× per shingle at
    // runtime; measured slower than the digest-per-hash version it replaced.)
    //
    // Candidates are generated by GROUPING on band_key and pairing ids
    // *within* each bucket (ids only — shingle arrays are joined back
    // afterwards, once per surviving candidate pair), never by self-joining
    // the banded relation.
    verifyJaccard(shs, candidatePairs(bandedKeys(shs), maxBucketSize), threshold)
  }

  /** Deduplicated candidate id pairs (doc_a < doc_b) from a banded
    * relation — the clique(≤cap) ∪ representative-star(>cap) generator,
    * shared by the full and the incremental detector. */
  private def candidatePairs(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    // Bucket size + representative via a whole-partition window over
    // band_key: ONE shuffle of the banded relation, after which the
    // clique-path groupBy below reuses the same hash partitioning (no
    // second exchange — a stats-aggregate joined back was measured ~15%
    // slower end-to-end at sf0.1 because it shuffles banded twice). A giant
    // bucket is one window partition of b NARROW rows streamed through a
    // sort — never a b-element array row or a b² pair expansion.
    val wBand = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    val sized = banded
      .withColumn("bsz", count(lit(1)).over(wBand))
      .withColumn("rep", min(col("doc_id")).over(wBand))
      .filter(col("bsz") > 1)
    // clique path (bucket ≤ cap): sort ids, emit (ids[i], ids[j]) for i<j
    val cliquePairs = sized.filter(col("bsz") <= maxBucketSize)
      .groupBy(col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(flatten(
        transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))), b =>
            struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    // star path (bucket > cap): one pair per row against the representative —
    // no collect_list, no quadratic expansion, bounded per-row work.
    val starPairs = sized.filter(col("bsz") > maxBucketSize && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    cliquePairs.unionByName(starPairs)
      .dropDuplicates("doc_a", "doc_b")
  }

  /**
   * Persist the LSH signature store for a corpus BESIDE it (the dedup
   * analogue of [[SimilarityOps.buildIvfIndex]]): `<path>/shingles` holds
   * (doc_id, sh, shv) — the per-doc distinct shingle arrays and their
   * 60-bit hashes — and `<path>/bands` holds the (doc_id, band_key)
   * banding relation. A 100 TB corpus grows by appended batches; with the
   * store on disk, [[minhashLshIncremental]] dedups a new batch by
   * banding ONLY the new docs and joining their band keys against the
   * store — cost proportional to the batch, not the corpus.
   */
  def buildLshStore(documents: DataFrame, path: String): Unit = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val shs = shingleRelation(documents)
    shs.write.mode("overwrite").parquet(s"$path/shingles")
    bandedKeys(shs).write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Append a new batch's signatures/bands to an existing store (call
    * AFTER [[minhashLshIncremental]] has reported the batch's pairs, or
    * before — a doc's signature depends only on its own text, so store
    * order never changes any result; doc_ids must be corpus-unique). */
  def appendLshStore(newDocs: DataFrame, path: String): Unit = {
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    val shs = shingleRelation(newDocs)
    shs.write.mode("append").parquet(s"$path/shingles")
    bandedKeys(shs).write.mode("append").parquet(s"$path/bands")
  }

  /** [[appendLshStore]] under the streaming sink's exactly-once contract:
    * both store tables route through
    * [[graft.sources.IdempotentAppend]], so a crash-replay of the same
    * batchId converges to one copy of the batch's signatures instead of
    * appending them twice (duplicated store rows never corrupt the
    * confirmed pair SET, but they inflate candidate generation and fan
    * the verify join — see [[minhashLshIncrementalReplayable]]). */
  def appendLshStoreIdempotent(newDocs: DataFrame, path: String, batchId: Long): Unit =
    lshStoreAppends(newDocs, path).foreach(_.append(batchId))

  /** The two appends of [[appendLshStoreIdempotent]], shingles then bands,
    * for a sink that commits them in one batch with its own. */
  private[graft] def lshStoreAppends(newDocs: DataFrame, path: String): Seq[IdempotentAppend.Into] = {
    lazy val shs = shingleRelation(newDocs)
    Seq(IdempotentAppend.Into(s"$path/shingles")(shs),
      IdempotentAppend.Into(s"$path/bands")(bandedKeys(shs)))
  }

  /**
   * RETIRE documents from a persisted store — the other half of snapshot
   * maintenance ([[appendLshStore]] covers additions; removed or
   * content-changed docs must stop matching). Retirement is a TOMBSTONE
   * append: the ids land in `<path>/tombstones` and every store read
   * subtracts them — O(batch) write, no store rewrite, which is the only
   * acceptable cost on a 100 TB store where a changed doc would otherwise
   * force rewriting every row-group it touches.
   *
   * Maintenance protocol per snapshot update (tombstones carry no
   * generation, so a live and a retired row with one doc_id cannot
   * coexist): `retire(stale ids)` → [[compactLshStore]] →
   * `append(delta)`. Removed docs need only the first step (compaction
   * can then wait for the next maintenance window — reads already
   * subtract them); a content-CHANGED doc re-appends under its old id and
   * therefore REQUIRES the compaction between retire and append, one
   * bounded rewrite per snapshot regardless of how many docs changed. That
   * rewrite is the one commit for every table rewrite, and deletes only
   * the tombstones it read ([[compactLshStore]]). The delta-reprocess spec
   * pins store-read equality with a from-scratch rebuild over the v2
   * snapshot for the full add/change/remove case.
   */
  def retireLshStore(ids: DataFrame, path: String): Unit =
    ids.select(col("doc_id")).write.mode("append").parquet(s"$path/tombstones")

  /**
   * Physically drop tombstoned rows — bounded store rewrite, run at
   * maintenance cadence (the read-side anti-join cost grows with the
   * tombstone table, not the store, so compaction frequency trades write
   * amplification against read overhead), on the one commit for every
   * table rewrite: `shingles` and `bands` each commit through
   * [[Maintenance.rewrite]] against one tombstone snapshot, both checked
   * first against the store root's stream markers
   * ([[Maintenance.dropRetired]]).
   */
  def compactLshStore(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    Maintenance.dropRetired(spark, Maintenance.fileSystem(spark, path),
      new Path(root, "tombstones"), "doc_id", IdempotentAppend.markerDir(root),
      Seq(new Path(root, "shingles"), new Path(root, "bands")))
  }

  /** Store read with tombstones subtracted (shared by the incremental
    * detector; the anti-join is O(tombstones) broadcast-shaped between
    * compactions). */
  private def loadStoreRelation(spark: SparkSession, path: String, rel: String): DataFrame =
    Maintenance.withoutRetired(
      spark.read.parquet(s"$path/$rel"), new Path(path, "tombstones"), "doc_id")

  /**
   * Incremental MinHash/LSH near-dup pairs for an appended batch against
   * a persisted [[buildLshStore]] store: every confirmed pair with AT
   * LEAST ONE side in `newDocs` (new–new pairs via the same clique∪star
   * generator as [[minhashLsh]], new–old pairs via an equi-join of the
   * batch's band keys against the store's). Union the batches' outputs
   * and you have exactly the full-corpus uncapped pair set — the
   * candidate condition "shares ≥1 band key" and the exact-Jaccard
   * verification are both independent of which batch a doc arrived in
   * (property-tested against the full recompute over append sequences in
   * DedupSpec).
   *
   * Scale shape: the batch is banded from scratch (cost ∝ batch); the
   * store side is READ pre-banded — no re-shingling of history. The
   * new–old join shuffles on band_key, and a hot store bucket costs its
   * membership as join-output rows spread across tasks, never a
   * collected array; `maxBucketSize` caps the new–new clique path
   * exactly as in the full detector.
   */
  def minhashLshIncremental(newDocs: DataFrame, storePath: String,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val spark = newDocs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    minhashLshIncrementalFrom(shingleRelation(newDocs),
      loadStoreRelation(spark, storePath, "shingles"),
      loadStoreRelation(spark, storePath, "bands"), threshold, maxBucketSize)
  }

  /** [[minhashLshIncremental]] for the streaming sink's CRASH-REPLAY path
    * ([[graft.streaming.CorpusStream.dedupIngestBatch]]): the store
    * relations are filtered to EXCLUDE the new batch's own doc_ids before
    * matching. A retry whose prior attempt already appended this batch to
    * the store would otherwise see the batch on BOTH sides — store-route
    * duplicates of the within-batch pairs, and doubled shingle rows
    * fanning the verify join — so the recompute would not reproduce the
    * first attempt's rows. With the exclusion the retry computes pairs
    * against exactly the pre-batch corpus, making the recompute
    * deterministic across crash points. Cost: one broadcast anti-join per
    * store relation, ∝ batch (the id list), never ∝ store. */
  def minhashLshIncrementalReplayable(newDocs: DataFrame, storePath: String,
      threshold: Double, maxBucketSize: Int): DataFrame = {
    val spark = newDocs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val ids = newDocs.select(col("doc_id"))
    def excl(df: DataFrame) = df.join(broadcast(ids), Seq("doc_id"), "left_anti")
    minhashLshIncrementalFrom(shingleRelation(newDocs),
      excl(loadStoreRelation(spark, storePath, "shingles")),
      excl(loadStoreRelation(spark, storePath, "bands")), threshold, maxBucketSize)
  }

  /** [[minhashLshIncremental]] with the prior corpus as a DataFrame — the
    * store computed in-flight (shared via the plan-keyed shingle cache)
    * instead of read back from parquet. */
  def minhashLshIncremental(newDocs: DataFrame, priorDocs: DataFrame,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    val priorShs = shingleRelation(priorDocs)
    minhashLshIncrementalFrom(shingleRelation(newDocs), priorShs,
      bandedKeys(priorShs), threshold, maxBucketSize)
  }

  private def minhashLshIncrementalFrom(newShs: DataFrame, storeShs: DataFrame,
      storeBands: DataFrame, threshold: Double, maxBucketSize: Int): DataFrame = {
    val newBands = bandedKeys(newShs)
    val newNew = candidatePairs(newBands, maxBucketSize)
    val newOld = newBands
      .join(storeBands.select(col("doc_id").as("old_id"), col("band_key")), Seq("band_key"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(least(col("doc_id"), col("old_id")).as("doc_a"),
        greatest(col("doc_id"), col("old_id")).as("doc_b"))
    val pairs = newNew.unionByName(newOld).dropDuplicates("doc_a", "doc_b")
    verifyJaccard(storeShs.unionByName(newShs), pairs, threshold)
  }

  /** (doc_id, band_key) LSH banding relation: minhash signatures from the
    * cached per-shingle hashes (`shv` — no digest work on this scan), one
    * partial-agg shuffle computing all 16 minima map-side, bands exploded to
    * `Bands` string keys per doc. Shared by [[minhashLsh]] and
    * [[lshBucketCensus]] so the census counts exactly the buckets the
    * detector pairs. */
  private def bandedKeys(shs: DataFrame): DataFrame = {
    val ex = shs.select(col("doc_id"), explode(col("shv")).as("h"))
      .select(col("doc_id"), (col("h") % HashP).as("v"))
    val minCols = (0 until NumHashes).map(i =>
      min((col("v") * (2 * i + 1) + i) % HashP).as(s"m$i"))
    val sig = ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val rows = NumHashes / Bands
    val bandCols = (0 until Bands).map(b =>
      concat(lit(s"$b:"), concat_ws(",",
        (0 until rows).map(r => col(s"m${b * rows + r}").cast("string")): _*)))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band_key"))
  }

  /**
   * Diagnostic census of LSH band buckets: one row of exact integers —
   * pairable buckets (size > 1), buckets above `maxBucketSize` (routed to
   * the representative-star path by [[minhashLsh]]), the widest bucket, and
   * the clique-pair count the cap avoided. Run this beside a production
   * dedup to see how much of the corpus is boilerplate-dense; a large
   * `n_oversized` means the star trade-off is active and exact in-cluster
   * recall rests on the other bands.
   */
  def lshBucketCensus(documents: DataFrame,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    bandedKeys(shingleRelation(documents))
      .groupBy(col("band_key")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > 1)
      .agg(
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)), lit(0L))
          .as("n_oversized"),
        coalesce(max(col("bsz")), lit(0L)).as("max_bucket"),
        coalesce(sum(when(col("bsz") > maxBucketSize,
          // b·(b−1) is even, so the double division is exact; cast back to
          // the integer count before summing
          (col("bsz") * (col("bsz") - 1) / 2).cast("long"))), lit(0L))
          .as("clique_pairs_avoided"))
  }

  /**
   * Diagnostic census of the star path's recall gap IN ACTION: for every
   * oversized bucket, the representative-star pairs that fail exact
   * verification — the members whose true duplicates (if any) can then
   * only be reported through another band. A zero `failed_pairs` means
   * the star trade-off cost nothing on this corpus; a large
   * `max_failed_per_bucket` flags a bucket whose representative sits
   * below threshold against much of its cluster (chain another star from
   * the second-lowest member, or raise the cap for that corpus). Counts
   * are per (bucket, member) — a pair failing in two bands counts twice,
   * because the gap is per bucket. Same banded relation and window as
   * the detector, so the census sees exactly the buckets it capped.
   */
  def lshStarGapCensus(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val shs = shingleRelation(documents)
    val wBand = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    val star = bandedKeys(shs)
      .withColumn("bsz", count(lit(1)).over(wBand))
      .withColumn("rep", min(col("doc_id")).over(wBand))
      .filter(col("bsz") > maxBucketSize && col("doc_id") =!= col("rep"))
      .select(col("band_key"), col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val verified = star
      .join(shs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    val (_, j) = jaccard(col("sh_a"), col("sh_b"))
    verified.select(col("band_key"), j.as("jac"))
      .groupBy(col("band_key"))
      .agg(count(lit(1)).as("tried"),
        sum(when(col("jac") < threshold, 1L).otherwise(0L)).as("failed"))
      .agg(
        coalesce(sum(col("tried")), lit(0L)).as("star_pairs"),
        coalesce(sum(col("failed")), lit(0L)).as("failed_pairs"),
        coalesce(sum(when(col("failed") > 0, 1L).otherwise(0L)), lit(0L))
          .as("buckets_with_failures"),
        coalesce(max(col("failed")), lit(0L)).as("max_failed_per_bucket"))
  }

  /**
   * Diagnostic recall census of the LSH detector against the exact
   * ground-truth operator: one row of exact integers — true pairs at the
   * threshold ([[ngramJaccard]]), pairs the banded detector found, pairs it
   * missed — plus the Jaccard range of the misses (misses cluster just
   * above the threshold, where the banding match probability
   * 1−(1−j⁴)⁴ is lowest) and the recall ratio (single division, rounded).
   *
   * Deliberately expensive — it runs the exact prefix-filtered join as
   * ground truth — so it is a sampled-subset / fixture diagnostic, not a
   * production pass: run it on a representative slice to decide whether
   * the band/row configuration's recall curve is acceptable for a corpus,
   * then run only [[minhashLsh]] at full scale. Both detectors share the
   * cached shingle relation, so the corpus is shingled once.
   *
   * `sampleNibbles` (0..16) is the built-in deterministic slice: docs whose
   * first md5 nibble of the doc_id is below it participate (16 = everyone).
   * The gate is content-independent and reproducible in SQL, so a sampled
   * census stays oracle-checkable; recall over a uniform doc sample is an
   * unbiased estimate of pair recall in the j-bands the census reports
   * (both detectors see the identical sampled corpus).
   */
  def lshRecallCensus(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize,
      sampleNibbles: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // Filter the CACHED full-corpus shingle relation rather than shingling
    // a sampled corpus: the census shares the one cache entry every other
    // dedup operator uses, and the slice costs one cheap predicate per
    // consumer instead of a second materialization.
    val shsFull = shingleRelation(documents)
    val shs =
      if (sampleNibbles >= 16) shsFull
      else shsFull.filter(
        graft.functions.GraftFunctions.sampleGate(col("doc_id"), sampleNibbles))
    val truth = ngramJaccardFrom(shs, threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val found = minhashLshFrom(shs, threshold, maxBucketSize)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found"))
    truth.join(found, Seq("doc_a", "doc_b"), "left_outer")
      .agg(
        count(lit(1)).as("n_true_pairs"),
        coalesce(sum(when(col("found"), 1L)), lit(0L)).as("n_found"),
        coalesce(sum(when(col("found").isNull, 1L)), lit(0L)).as("n_missed"),
        round(coalesce(min(when(col("found").isNull, col("jaccard"))), lit(-1.0)), 4)
          .as("min_missed_jaccard"),
        round(coalesce(max(when(col("found").isNull, col("jaccard"))), lit(-1.0)), 4)
          .as("max_missed_jaccard"))
      .withColumn("recall", round(
        col("n_found").cast("double") / greatest(col("n_true_pairs"), lit(1L)).cast("double"), 4))
  }

  /**
   * Exact-Jaccard confirmation of candidate id pairs against the per-doc
   * distinct-shingle relation `shArr` (doc_id, sh, shv). Two stages:
   *
   * 1. HASHED pre-verification: every candidate joins the 8-byte `shv`
   *    key arrays — ~3× narrower rows than the string arrays, and this
   *    join is the operator's dominant shuffle (the string-array form
   *    spilled 17 GB at the 30×-distinct probe) — and filters on hashed
   *    Jaccard ≥ threshold.
   * 2. EXACT verification: the survivors (a near-true-pair-sized set)
   *    re-join the STRING arrays and re-filter on string Jaccard, so no
   *    false positive — hash collision or otherwise — is ever reported
   *    and every reported value is computed on the strings. When the
   *    survivor set is small (distinct-content corpora) AQE broadcasts
   *    it and the string join streams the cached shingle relation with
   *    no wide shuffle; when survivors are plentiful (replica-heavy
   *    corpora, where most candidates ARE true pairs) the string join
   *    degrades to exactly the single-stage join this replaced, and the
   *    narrow stage-1 pass is the only overhead (~+30 % traffic worst
   *    case vs −60–70 % in the distinct regime).
   *
   * Completeness class: a true pair escapes stage 1 only if hash
   * collisions drag hashed Jaccard below threshold ≤ string Jaccard. A
   * collision INSIDE A∩B can do that — it shrinks the image intersection
   * as fast as the union (A={1,2,5}, B={1,2,3}, h(1)=h(2): hashed 1/3 <
   * string 1/2) — so the guarantee is probabilistic, odds ~|A∩B|²·2⁻⁶¹
   * per pair on the 60-bit keys: the same failure class the hashed
   * candidate index already carries (see [[ngramJaccardFrom]]). Joining
   * precomputed arrays beats re-shingling from text per pair as soon as
   * candidates outnumber docs (measured 5× at sf0.1 for the prefix-filter
   * path).
   */
  /** Corpus-proportional partition count for the candidate-pair shuffles
    * — engaged ONLY past a per-partition mass bound, `None` below it.
    * The session's fixed `spark.sql.shuffle.partitions` bounds these
    * shuffles from ABOVE at scale: AQE can only coalesce small partitions,
    * never split uniformly-overloaded ones (skew-join splitting needs a
    * skewed OUTLIER, not a uniformly heavy stage), so at 100 TB the
    * per-partition pair mass grows without bound (the round-11 probe
    * measured 17 GB of spill here before the hashed pre-verify narrowed
    * the rows; the structural bound remained).
    *
    * Why the engagement threshold (round 12, measured): an explicit
    * `repartition(n, key)` carries a user origin, and AQE's
    * OptimizeSkewedJoin only splits ENSURE_REQUIREMENTS exchanges — so
    * pinning the spread TRADES AWAY skew-join splitting on these joins.
    * The 100×-distinct probe priced that trade: pinned at ~110
    * partitions, x2 31.7 → 49.2 s and x52 21.1 → 50.2 s (spill 37–42 GB
    * → 0, but hot-doc partitions became unsplittable stragglers; warm
    * reps DEGRADED as heap pressure from the fat straggler grew), and a
    * transient broadcast-build OOM appeared on x34's cold rep. Sorted
    * spill is sequential local I/O — cheap next to an unsplittable
    * straggler — so below ~2 GB of expected join mass per session
    * partition the right call is NO pin: AQE keeps skew splitting, and
    * per-task memory stays bounded by spill (measured peak task memory
    * 118 MB under 42 GB of spill). Past the bound, fat partitions stress
    * shuffle fetches and sort buffers structurally, and the
    * corpus-proportional pin (256 MB of join mass per partition, the
    * trade documented) takes over.
    *
    * The proxy is MEASURED bytes only — never a derived-plan estimate:
    * size estimates multiply through joins/aggregates, and the first
    * proxy (`optimizedPlan.stats.sizeInBytes` of the whole shingle
    * relation) blew past 16 TB on uncached paths at the 30×-distinct
    * probe, pinning 65536-partition shuffles onto a 700 MB stage. A
    * plain leaf-stats sum is not enough either: a `cache()`d shingle
    * relation IS a leaf (InMemoryRelation), and until its buffers
    * materialize Spark reports the stats OF THE PLAN IT CACHES — the
    * same join-multiplied estimate (the funnel family builds its verify
    * plan before the funnel cache fills, and the 30×d probe still hit
    * one 65536-partition stage that way). So: loaded caches report
    * their measured buffer bytes; unloaded caches recurse through the
    * physical plan they would run down to FILE scans, whose sizes come
    * from the file index — measured at any state. Scan types the
    * recursion does not recognize contribute 0, degrading toward the
    * session count (the pre-round-12 behavior), never toward
    * over-spread.
    *
    * Join mass ≈ 400× the compressed scan (the 100×-distinct probe:
    * 22.7 GB of hv-join shuffle read off a 58 MB scan — candidate
    * multiplicity × two packed key arrays). Engagement: mass / session
    * partitions > 2 GB (at 32 partitions that is ~160 MB of leaves —
    * every current fixture stays un-pinned, plans byte-identical to
    * r11's AQE-managed shape); when pinned, one partition per 256 MB of
    * mass, capped at 65536. */
  /** Engagement bound (expected join mass per session partition) and the
    * pinned-spread target (join mass per pinned partition) — parameters
    * so the post-materialization unit test can exercise the decision
    * machinery without a multi-GB fixture; every production caller takes
    * the defaults. */
  private[graft] val PairMassPerPartitionBound: Long = 2L << 30
  private[graft] val PairMassPerPinnedPartition: Long = 256L << 20

  /** Headroom on how far the CALIBRATED loaded-cache mass may sit above
    * the calibrated file mass for the same relation (the factors make
    * the two bases agree ≈1.03× on the calibration corpus; data whose
    * buffer-to-file ratio drifts from it moves this). Used only to
    * decide whether an UNLOADED cache could change the sizing decision
    * once loaded. */
  private[graft] val MaxCacheExpansion = 8L

  /** Expected hv-join mass per MEASURED leaf byte, calibrated PER LEAF
    * TYPE — the round-13 probe caught the single 400× factor silently
    * pinning 1863-partition shuffles whenever the sizing read a LOADED
    * cache: compressed parquet under the shingle plan measures 60.6 MB
    * at 100×-distinct while the SAME relation's loaded columnar buffers
    * measure 1.25 GB (20.6×), so one factor cannot serve both bases.
    * (The defect predates round 13: r12's warm reps read loaded buffers
    * at plan time and pinned silently — visible in retrospect as r12b's
    * x2 rep-1-faster-than-steady inversion, 25.7 s unpinned vs 40.5 s.)
    * Calibration, 100×d probe: 22.7 GB hv-join shuffle read per 60.6 MB
    * compressed scan (≈ 375×) and per 1.25 GB loaded buffers (≈ 18×) —
    * with these factors the two bases AGREE (24.2 vs 25.0 GB mass), so
    * the sizing decision no longer depends on which side of cache
    * materialization the plan was built on; the engagement bound's 8×
    * headroom covers data whose ratios drift from the calibration
    * corpus. */
  private[graft] val FileScanJoinMassFactor = 400L
  private[graft] val CachedBufferJoinMassFactor = 20L

  private[graft] def pairShufflePartitions(
      shArr: DataFrame,
      engageBound: Long = PairMassPerPartitionBound,
      perPinned: Long = PairMassPerPinnedPartition): Option[Int] = {
    val sess = shArr.sparkSession.sessionState.conf.numShufflePartitions
    def mass() = measuredJoinMass(shArr.queryExecution.optimizedPlan)
    var m = mass()
    // POST-MATERIALIZATION RE-READ (round 13, verdict ask 2): an unloaded
    // cache contributes its underlying FILE bytes (compressed), so a
    // pipeline that builds its verify plan before its cached inputs load
    // sized the spread from the file estimate while one that builds it
    // after sized from measured buffers — the same plan, two different
    // shuffles. When the plan holds an unloaded cache AND the file-bytes
    // reading is within MaxCacheExpansion of the engagement bound (so a
    // loaded re-read COULD change the decision), force the cache with one
    // count() — the query materializes that shared entry moments later
    // anyway, so no work is added, only moved — and re-measure: the
    // memoized plan's InMemoryRelation now reports its loaded buffer
    // bytes. Below the trigger (every gate fixture: sf0.1 leaves are
    // ~1 MB against a 256 MB trigger at 32 partitions) no job runs and
    // plans/job counts stay byte-identical.
    if (m / sess > engageBound / MaxCacheExpansion && hasUnloadedCache(shArr)) {
      shArr.count()
      m = mass()
    }
    if (m / sess <= engageBound) None
    else Some((m / perPinned).min(BigInt(65536)).toInt)
  }

  private def hasUnloadedCache(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case imr: InMemoryRelation =>
        !imr.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
  }

  /** Sum of MEASURED leaf bytes under `plan`: file scans (file-index
    * sizes), loaded cache buffers, and the file scans inside UNLOADED
    * cache plans (whose own stats would be the cached plan's estimate —
    * see [[pairShufflePartitions]]). Unrecognized scan types count 0. */
  private[graft] def measuredLeafBytes(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): BigInt =
    leafMass(plan, 1L, 1L)

  /** [[measuredLeafBytes]] with the per-leaf-type join-mass calibration
    * applied: file-scan bytes × [[FileScanJoinMassFactor]], loaded cache
    * buffers × [[CachedBufferJoinMassFactor]] (the two measurement bases
    * differ ~20× on the same relation — see the factors' scaladoc). */
  private[graft] def measuredJoinMass(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): BigInt =
    leafMass(plan, FileScanJoinMassFactor, CachedBufferJoinMassFactor)

  private def leafMass(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      fileFactor: Long,
      cacheFactor: Long): BigInt = {
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def imrMass(imr: InMemoryRelation): BigInt =
      if (imr.cacheBuilder.isCachedColumnBuffersLoaded)
        imr.computeStats().sizeInBytes * cacheFactor
      else physicalFileMass(imr.cacheBuilder.cachedPlan)
    def physicalFileMass(p: SparkPlan): BigInt =
      p.collect {
        case f: FileSourceScanExec => BigInt(f.relation.sizeInBytes) * fileFactor
        case t: InMemoryTableScanExec => imrMass(t.relation)
        // AQE wraps the cached plan in a leaf-like node; descend into the
        // pre-execution plan it adapts (file sizes don't depend on which
        // runtime plan AQE picks)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          physicalFileMass(a.inputPlan)
      }.sum
    plan.collectLeaves().map {
      case imr: InMemoryRelation => imrMass(imr)
      case leaf => leaf.stats.sizeInBytes * fileFactor
    }.sum
  }

  private def verifyJaccard(shArr: DataFrame, pairs: DataFrame,
      threshold: Double): DataFrame = {
    val nPart = pairShufflePartitions(shArr)
    val hv = shArr.select(col("doc_id"), array_distinct(col("shv")).as("hv"))
    val (_, jh) = jaccard(col("hv_a"), col("hv_b"))
    // Corpus-proportional spread of the candidate relation before each
    // key-array join (the operator's dominant shuffles) — ONLY past the
    // per-partition mass bound; below it the plan stays AQE-managed so
    // skew-join splitting keeps working (see pairShufflePartitions).
    def spread(df: DataFrame, key: Column): DataFrame =
      nPart.fold(df)(n => df.repartition(n, key))
    val survivors = spread(pairs, col("doc_a"))
      .join(hv.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), Seq("doc_a"))
      .transform(spread(_, col("doc_b")))
      .join(hv.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), Seq("doc_b"))
      .filter(jh >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val candidates = survivors
      .join(shArr.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shArr.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    val (_, j) = jaccard(col("sh_a"), col("sh_b"))
    candidates
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * Exact n-gram Jaccard ≥ threshold for all pairs, via a shingle inverted
   * index: explode distinct shingles, equi-join on the shingle, count common
   * shingles per pair, derive Jaccard from exact integer counts.
   *
   * Completeness class: the candidate index AND the pre-verification both
   * run on 60-bit hashed shingle keys, so a true pair can be lost to a
   * hash collision inside its own shingle intersection at odds
   * ~|A∩B|²·2⁻⁶¹ per pair (see [[ngramJaccardFrom]] for the mechanism and
   * the counterexample) — "exact" here means every REPORTED value is the
   * string-set Jaccard and precision is absolute; completeness is
   * probabilistic at that collision class.
   */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    ngramJaccardFrom(shingleRelation(documents), threshold)
  }

  /** [[ngramJaccard]] over an explicit (possibly filtered) shingle relation
    * — see [[minhashLshFrom]]. */
  private[operators] def ngramJaccardFrom(shArr: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Prefix filtering (PPJoin-style): for Jaccard >= t, two docs must share
    // at least one shingle among each doc's first (n - ceil(t*n) + 1) shingles
    // in a global rarity order. Joining only on those prefix shingles keeps
    // posting lists short (rare shingles by construction) — the equi-join no
    // longer explodes on stop-shingles shared by thousands of docs, which is
    // what kills the naive inverted-index join at scale. Candidates are then
    // verified exactly on the full shingle sets, so the result set is
    // identical to the naive all-pairs algorithm (and to the DuckDB oracle,
    // which runs the naive form).
    //
    // The index keys are the cached 60-bit shingle hashes (shv), not the
    // shingle strings: the shuffle carries 8-byte longs instead of ~20-char
    // strings and the join compares longs. The prefix filter runs on the
    // HASHED key set per doc — array_distinct collapses within-doc
    // collisions so n_sh is the distinct-KEY count, and the PPJoin bound
    // is applied to the hashed sets. Completeness on the hashed sets is
    // PROBABILISTIC, not absolute: a collision inside A∩B shrinks the
    // image intersection as fast as the union, so hashed Jaccard can dip
    // below string Jaccard (A={1,2,5}, B={1,2,3}, h(1)=h(2): 1/3 < 1/2) —
    // the earlier "hashed Jaccard can only exceed string Jaccard" claim
    // is false in exactly this case. A true pair is lost only when such a
    // collision lands inside its own shingle sets AND pushes the hashed
    // overlap under the prefix bound — odds ~|A∩B|²·2⁻⁶¹ per pair on the
    // 60-bit keys, the same failure class as a 60-bit MinHash signature.
    // Collision-born EXTRA candidates are removed by the exact
    // verification on the string arrays, so precision is absolute.
    val sh = shArr
      .select(col("doc_id"), array_distinct(col("shv")).as("shd"))
      .select(col("doc_id"), size(col("shd")).as("n_sh"), explode(col("shd")).as("s"))
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(freq, Seq("s"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("r") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("s"))
    val pairs = ranked.select(col("doc_id").as("doc_a"), col("s"))
      .join(ranked.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(shArr, pairs, threshold)
  }

  /**
   * Exact n-gram CONTAINMENT ≥ threshold — the asymmetric near-dup:
   * c(A→B) = |A ∩ B| / |A| over the distinct-shingle sets. Finds quotes,
   * excerpts, and subset documents that symmetric Jaccard misses (a short
   * doc wholly quoted inside a long one has low Jaccard but containment 1).
   * Output: DIRECTED pairs (doc_a contained-in doc_b, a ≠ b, containment
   * rounded to 4); two identical docs appear in both directions.
   *
   * Scale shape: the PPJoin prefix filter applies on the CONTAINED side
   * only — A must share ≥ ceil(t·|A|) keys with B, so if B holds none of
   * A's (|A| − ceil(t·|A|) + 1) globally-rarest keys the pair is
   * impossible; candidates join A's short rare-key prefix against B's full
   * inverted index, pre-verify on the hashed key arrays, then verify
   * exactly on the string arrays. Hashed-key containment tracks string
   * containment up to collisions — a collision inside A∩B can push it
   * BELOW (the same counterexample as [[ngramJaccardFrom]]'s note; the
   * earlier "can only exceed" claim was false) — so completeness is
   * probabilistic at the ~2⁻⁶⁰-collision failure class, and the exact
   * string verification keeps precision absolute.
   */
  def ngramContainment(documents: DataFrame, threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val shArr = shingleRelation(documents)
    val sh = shArr
      .select(col("doc_id"), array_distinct(col("shv")).as("shd"))
      .select(col("doc_id"), size(col("shd")).as("n_sh"), explode(col("shd")).as("s"))
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = sh.join(freq, Seq("s"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
    val nPart = pairShufflePartitions(shArr)
    val prefixA = ranked
      .filter(col("r") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id").as("doc_a"), col("s"))
    val fullB = sh.select(col("doc_id").as("doc_b"), col("s"))
    val pairs = prefixA.join(fullB, Seq("s"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // hashed pre-verify on the 8-byte key arrays (the wide-shuffle stage,
    // spread corpus-proportionally like verifyJaccard's), exact string
    // verify on the survivors — same two-stage shape and
    // exactness/completeness class as verifyJaccard
    val hv = shArr.select(col("doc_id"), array_distinct(col("shv")).as("hv"))
    def spread(df: DataFrame, key: Column): DataFrame =
      nPart.fold(df)(n => df.repartition(n, key))
    val survivors = spread(pairs, col("doc_a"))
      .join(hv.select(col("doc_id").as("doc_a"), col("hv").as("hv_a")), Seq("doc_a"))
      .transform(spread(_, col("doc_b")))
      .join(hv.select(col("doc_id").as("doc_b"), col("hv").as("hv_b")), Seq("doc_b"))
      .filter(size(array_intersect(col("hv_a"), col("hv_b"))).cast("double")
        / size(col("hv_a")).cast("double") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val candidates = survivors
      .join(shArr.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shArr.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    candidates
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * Connected components of the near-dup pair graph: every doc that
   * appears in a pair, labeled with its component's minimum doc_id. Pairs
   * say "these two are duplicates"; a pipeline keeps ONE representative
   * per transitive CLUSTER, and that requires components — two docs with
   * no direct edge still share a cluster through a chain.
   *
   * Algorithm: distributed min-label propagation. Each round joins the
   * symmetric edge list against the current labels, takes the per-node
   * min over neighbors (map-side partial min), and stops when no label
   * changed. Per-round work is entirely distributed (the driver holds one
   * changed-row COUNTER, never data — the loop is round coordination,
   * like Pregel supersteps); lineage is truncated per round with
   * localCheckpoint so plans stay flat. Rounds needed = the graph's
   * diameter. LSH dedup graphs are unions of band cliques and stars
   * (diameter a small constant — every member of a bucket is directly
   * joined to the others or to its representative), so a handful of
   * rounds closes even a 100 TB corpus; an adversarial long-chain graph
   * needs `maxRounds` ≥ its diameter.
   */
  /** Drop the executor-storage blocks behind a localCheckpoint'ed frame
    * (or a projection over one). Spark's ContextCleaner would eventually
    * reclaim them after driver GC; the propagation loop releases each
    * superseded round eagerly instead. */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    }

  /** Edge-count bound under which [[connectedComponentsAdaptive]] resolves
    * the graph driver-side: 1M edges = 16 MB of longs, union-find in
    * milliseconds — one Spark job replaces diameter-many join rounds. */
  val SmallGraphEdges: Long = 1_000_000L

  /**
   * Adaptive connected components — the execution-strategy switch the
   * APPLY operators use ([[dedupCorpus]], semantic dedup): near-dup pair
   * graphs are usually TINY relative to their corpus (pairs are the
   * exception, not the rule), so paying diameter-many distributed rounds
   * (each a join + count + checkpoint) to label a few thousand edges is
   * pure fixed cost. At or under `smallGraphEdges` edges the graph is
   * collected (bounded: 16 MB at the default) and resolved by union-find
   * with min-id roots — bit-identical output to the distributed loop, ONE
   * job instead of ~3·diameter. Above the bound, the distributed loop
   * runs untouched — that path stays the 100 TB story and stays
   * oracle-gated on its own (x34 pins the distributed loop
   * directly; the equivalence of the two strategies is property-tested in
   * DedupSpec). The same adaptive pattern as Spark's broadcast-join
   * threshold: size decides strategy, semantics never change.
   */
  def connectedComponentsAdaptive(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(aCol).cast("long"), col(bCol).cast("long")).persist()
    try {
      val nEdges = edges.count()
      if (nEdges <= smallGraphEdges) {
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val rows = parent.keys.toSeq.map(v => (v, find(v))).sorted
        import spark.implicits._
        rows.toDF("doc_id", "component").orderBy(col("doc_id"))
      // pass the PERSISTED edges, not the raw pairs plan: the cache is
      // plan-keyed, so connectedComponents' sym rebuild from `pairs`
      // would miss it and RE-EXECUTE the whole pair generator (measured:
      // the x57 blocked-kernel stage ran twice per execution, ~150 task-
      // seconds each, before this reuse). sym materializes eagerly
      // inside the call, so the finally-unpersist stays safe. The edge
      // count rides along as the loop's big-graph strategy hint (the
      // cached-layout/broadcast round machinery engages above the
      // bound; a hintless direct call keeps the r13 shape).
      } else connectedComponents(edges, aCol, bCol, 50, Some(nEdges),
        BroadcastLabelNodes)
    } finally edges.unpersist()
  }

  /** Node-count bound under which the distributed label-propagation rounds
    * broadcast the label frontier instead of shuffling edge-keyed partials.
    * Near-dup graphs routinely sit in this regime ABOVE the edge bound
    * (many edges over few distinct nodes — 1.75M edges over 237k nodes at
    * the x57 60×d probe), where broadcast rounds shuffle ZERO bytes.
    *
    * CALIBRATED by measurement (round 15, ComponentsCrossoverProbe:
    * both modes on identical star graphs at 250k–4M nodes, local[32]),
    * replacing round 14's 16 MB budget guess:
    *  - below ~600k nodes AQE auto-broadcasts the frontier in the SMJ
    *    mode too (labels fit autoBroadcastJoinThreshold) — the explicit
    *    hint is redundant and both modes measure byte-identical;
    *  - 500–750k: wall-neutral (norm 0.99), hint still guarantees the
    *    zero-shuffle rounds when a conf lowers the AQE threshold;
    *  - 1M/2M/4M: the hint LOSES wall (1.27×/1.62×/2.02× — per-round
    *    driver broadcast build dominates) while saving ~6× round bytes
    *    (39.7 vs 233.7 MB at 2M). Bytes are the 100 TB currency, but a
    *    frontier that big is also where broadcast memory pressure on
    *    real executors starts to bite — the SMJ rounds (which still
    *    never re-shuffle the edge list) are the right default there.
    * 750k is the measured wall-neutral edge on this host class. */
  val BroadcastLabelNodes: Long = 750_000L

  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxRounds: Int = 50): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxRounds, None, BroadcastLabelNodes)

  /** [[connectedComponents]] with the caller's measured edge count — the
    * strategy hint [[connectedComponentsAdaptive]] passes from the count
    * it already paid. Round-traffic design (round 14, from the x57 60×d
    * sql_profile.py decomposition — the rounds were the dominant term in
    * the pipeline's superlinear shuffle growth once the graph crossed
    * SmallGraphEdges: one full 44 MB edge-list exchange per round × 13
    * rounds):
    *
    *  - WITHOUT a hint, or at or under [[SmallGraphEdges]], the loop is
    *    byte-identical to its round-13 shape (checkpointed edge list,
    *    SMJ rounds): per-round traffic is O(edges), but a small graph's
    *    edges are KBs and every substitute (cache builds, layout
    *    decisions, per-round broadcast builds) is pure fixed job latency
    *    at that scale — a first r14 form cost the x34 gate +1.3–1.6×
    *    for zero byte savings, twice, before this split landed.
    *  - With a hint ABOVE the bound, the edge list is CO-PARTITIONED
    *    ONCE and CACHED: InMemoryRelation advertises its child's
    *    partitioning and ordering (localCheckpoint does NOT — Spark
    *    4.1's LogicalRDD reports UnknownPartitioning, measured while
    *    building this), so the rounds reuse the layout instead of
    *    re-shuffling the edges; the partition count is EXPLICIT because
    *    a bare repartition(col) is an AQE coalescing target (also
    *    measured: rounds kept re-exchanging). With nodes ≤
    *    [[BroadcastLabelNodes]] (the many-edges-few-nodes near-dup
    *    shape) the rounds run u-partitioned and broadcast the label
    *    frontier into both joins — a round shuffles ZERO bytes; huge
    *    node sets keep v-partitioned+sorted SMJ rounds that shuffle
    *    only frontier and aggregate partials, never the edge list. */
  def connectedComponents(pairs: DataFrame,
      aCol: String, bCol: String,
      maxRounds: Int,
      edgeCount: Option[Long],
      broadcastNodeBound: Long): DataFrame = {
    val spark = pairs.sparkSession
    val symN = spark.sessionState.conf.numShufflePartitions
    val big = edgeCount.exists(_ > SmallGraphEdges)
    var labels: DataFrame = null
    var bcastRounds = false
    val sym =
      if (!big) {
        // Materialize the DIRECTED edge projection once, THEN mirror it
        // (round 17): the old `pairs ∪ pairs.swapped` checkpoint embedded
        // the pair GENERATOR twice in one plan, and the x34 gate (whose
        // generator is the full LSH pipeline) measurably executed it
        // twice — 445 MB scan input vs the adaptive path's 212 MB for the
        // same graph (BENCH_full r16 resource counters). The union over
        // the checkpointed half is a narrow in-memory read per round, and
        // the checkpoint stores E rows instead of 2E.
        val p0 = pairs.select(col(aCol).as("u"), col(bCol).as("v")).localCheckpoint()
        val s = p0.unionByName(p0.select(col("v").as("u"), col("u").as("v")))
        labels = s.select(col("u")).distinct()
          .select(col("u"), col("u").as("lbl")).localCheckpoint()
        s
      } else {
        val symRaw = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
          .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
        // u-layout first: it serves the broadcast mode directly and the
        // labels distinct fuses on it either way
        val s0 = symRaw.repartition(symN, col("u"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // any failure between the persist and the round loop (the counts,
        // the labels checkpoint, the huge-node re-layout) must release the
        // half-built frames here — the loop's own catch below only sees
        // the finished `sym`/`labels`, so without this the executor
        // storage stays pinned until driver GC (round-15 ADVICE; same
        // pinned-storage class the round loop guards)
        var sHuge: DataFrame = null
        try {
          s0.count()
          labels = s0.select(col("u")).distinct()
            .select(col("u"), col("u").as("lbl")).localCheckpoint()
          bcastRounds = labels.count() <= broadcastNodeBound
          if (bcastRounds) s0
          else {
            // huge node set: re-lay for the SMJ rounds' probe side — one
            // O(E) exchange, amortized against the rounds it feeds
            sHuge = s0.repartition(symN, col("v")).sortWithinPartitions(col("v"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            sHuge.count()
            s0.unpersist()
            sHuge
          }
        } catch { case e: Throwable =>
          if (sHuge != null) sHuge.unpersist()
          s0.unpersist()
          if (labels != null) releaseCheckpoint(labels)
          throw e
        }
      }
    var round = 0
    var changed = 1L
    // on ANY failure (incl. the non-convergence require) release the
    // checkpointed frames before rethrowing — otherwise up to maxRounds
    // of executor storage stays pinned until driver GC lets the
    // ContextCleaner find it
    try {
      while (changed > 0 && round < maxRounds) {
        round += 1
        def bc(df: DataFrame): DataFrame = if (bcastRounds) broadcast(df) else df
        val nbrMin = sym
          .join(bc(labels.select(col("u").as("v"), col("lbl").as("vlbl"))), Seq("v"))
          .groupBy(col("u")).agg(min(col("vlbl")).as("nmin"))
        // ONE job per round (round 17 — the r16 300×d profile showed the
        // distributed loop paying ~84 sequential stage launches/rep at
        // ~20 % utilization, pure round latency): the changed-row count is
        // an OBSERVED METRIC (CollectMetrics) on the very plan the
        // checkpoint materializes, so convergence costs no second job; and
        // the update join is INNER with nbrMin as the streamed side —
        // nbrMin covers every labeled node (labels' node set IS sym's
        // symmetric `u` set, every neighbor carries a label, so the old
        // left-outer's null arm was provably dead) and streaming nbrMin
        // keeps the broadcast rounds' zero-shuffle layout (nbrMin inherits
        // sym's u-partitioning through the exchange-free aggregation;
        // labels stays the broadcast side).
        val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
        val updated = nbrMin.join(bc(labels), Seq("u"))
          .observe(obs, count(when(col("nmin") < col("lbl"), lit(1))).as("changed"))
          .select(col("u"), least(col("lbl"), col("nmin")).as("lbl"))
          .localCheckpoint()
        // Observation.get blocks only until the checkpoint's own action
        // reports — a failure there must still release the JUST-
        // checkpointed round (the outer catch only knows the `labels` var)
        try changed = obs.get("changed") match {
          case l: java.lang.Long => l.longValue
          case other => other.toString.toLong
        }
        catch { case e: Throwable => releaseCheckpoint(updated); throw e }
        // release the superseded round's checkpointed labels eagerly
        releaseCheckpoint(labels)
        labels = updated
      }
      require(changed == 0, s"components did not converge in $maxRounds rounds " +
        "— graph diameter exceeds the bound; raise maxRounds")
    } catch { case e: Throwable =>
      if (big) sym.unpersist() else releaseCheckpoint(sym)
      releaseCheckpoint(labels)
      throw e
    }
    if (big) sym.unpersist() else releaseCheckpoint(sym)
    labels.select(col("u").as("doc_id"), col("lbl").as("component"))
      .orderBy(col("doc_id"))
  }

  /** [[connectedComponents]] over [[minhashLsh]]'s confirmed pairs — the
    * end-to-end "cluster the corpus's near-duplicates" operator. */
  def dedupComponents(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    connectedComponents(minhashLsh(documents, threshold, maxBucketSize))

  /**
   * Deduplicate the corpus and RETURN THE SURVIVING DOCUMENTS — the
   * end-to-end "cleaned corpus" operator a pipeline feeds to training,
   * where [[dedupComponents]] only labels clusters. Near-dup pairs
   * ([[minhashLsh]]) are closed into transitive clusters
   * ([[connectedComponents]]); each cluster keeps its minimum doc_id (the
   * component label itself) and every other member is anti-joined away.
   * Documents in no cluster pass through untouched, with all their
   * columns.
   *
   * Scale shape: the loser set is at most one row per clustered document
   * — tiny next to the corpus — and the anti-join shuffles on doc_id like
   * any key join; nothing here adds driver-side state beyond the
   * component loop's round counter.
   */
  def dedupCorpus(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // adaptive strategy switch: same labels, one job on small pair graphs
    // (the distributed loop stays gated via x34)
    val comp = connectedComponentsAdaptive(minhashLsh(documents, threshold, maxBucketSize))
    val losers = comp.filter(col("component") =!= col("doc_id")).select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /**
   * Cleaned corpus with QUALITY-AWARE survivor selection: like
   * [[dedupCorpus]] but each near-dup cluster keeps its LONGEST member
   * (word count, ties → min doc_id) instead of the minimum id — the
   * practical policy when near-duplicates are partial mirrors of one page
   * and the longest copy is the most complete version. (The reference has
   * no dedup at all — this extends the §2.4 family; survivor policy per
   * the dedup discussion in Lee et al., "Deduplicating Training Data
   * Makes Language Models Better", public paper.)
   *
   * Scale shape: identical to [[dedupCorpus]] until the survivor pick —
   * capped LSH candidates, adaptive components — then the per-cluster
   * argmax is a window PARTITIONED BY component (cluster-sized frames,
   * never a corpus-wide sort; cluster size is already bounded by the
   * detector's bucket cap upstream). Only clustered docs enter the
   * window: the un-clustered majority of the corpus never shuffles.
   */
  def dedupCorpusBest(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val comp = connectedComponentsAdaptive(minhashLsh(documents, threshold, maxBucketSize))
    keepLongestPerCluster(documents, comp)
  }

  /** Longest-member survivor selection over a component labeling: drop
    * every clustered doc except each cluster's longest (word count, ties →
    * min doc_id). Shared by [[dedupCorpusBest]] and
    * [[dedupCorpusBestCollapsed]] — the window partitions by component
    * (cluster-sized frames; only clustered docs enter it). */
  private def keepLongestPerCluster(documents: DataFrame, comp: DataFrame): DataFrame = {
    val scored = comp.join(
      documents.select(col("doc_id"),
        size(TextOps.words(col("text"))).as("nw_sel")),
      Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("nw_sel").desc, col("doc_id").asc)
    val losers = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= 1)
      .select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /**
   * Exact-duplicate collapse relation: `(doc_id, grp)` with `grp` = the
   * minimum doc_id among documents with BYTE-IDENTICAL text (value
   * equality is the definition — no hash-collision caveat), the same
   * collapse stage [[SimilarityOps.semanticDedupPairs]] runs on embedding
   * bytes. Shaped as groupBy + equi-join rather than a text-partitioned
   * window: the aggregation combines map-side (the shuffle carries one
   * row per distinct text per partition), and the join back STREAMS a
   * mega-group through sort-merge — where a window would buffer a
   * billion-duplicated boilerplate page as one partition's frame on one
   * task. AQE's skew split applies to the join; nothing here has a
   * per-key memory footprint.
   *
   * The grouping/join key is `(tk, text)` with `tk` = the codegen'd
   * 60-bit md5 prefix of the text ([[graft.functions.Md5PrefixLong]]),
   * tk FIRST: sort-merge and the aggregation hash compare the 8-byte
   * long and touch the full text only on tk ties — i.e. on actual
   * duplicates (plus ~2⁻⁶⁰-rare prefix collisions). The text column
   * stays in the key as the residual equality, so the semantics remain
   * value-exact, never hash-trusting.
   *
   * NULL-TEXT documents are dropped from the collapse relation, EXPLICITLY
   * (the inner join would drop them anyway — null keys never match): a
   * null text shingles to null, its minhash band keys are null, and its
   * Jaccard to anything is null, so the uncollapsed detector can never
   * confirm a pair for it. Keeping nulls out of the collapse (rather than
   * null-safe-grouping them together) is what preserves that invariant —
   * two null-text docs must NOT become a ≥2-member "duplicate group".
   */
  private[operators] def exactCollapse(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val keyed = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.md5PrefixLong(col("text"), 15).as("tk"))
    keyed
      .join(keyed.groupBy(col("tk"), col("text")).agg(min(col("doc_id")).as("grp")),
        Seq("tk", "text"))
      .select(col("doc_id"), col("grp"))
  }

  /**
   * [[dedupComponents]] under EXACT-DUPLICATE COLLAPSE — the scale path
   * for mass-replicated corpora (crawl mirrors, boilerplate, re-posted
   * pages), the LSH twin of the x57 fix that took semantic dedup from
   * 59 s to 3 s on the replica probe:
   *
   *  1. collapse byte-identical texts to one representative per group
   *     ([[exactCollapse]] — min doc_id via a map-side-combining groupBy
   *     plus an equi-join back, both keyed md5-prefix-first);
   *  2. run the full LSH detector over REPRESENTATIVES ONLY — all the
   *     quadratic machinery (banding, in-bucket pairs, Jaccard
   *     verification joins) sees one row per DISTINCT text, so a corpus
   *     where every page is mirrored d× does d²× less pair work and d×
   *     less verification work;
   *  3. components are computed on the rep-pair graph and EXTENDED to
   *     members through one join (a member's only connectivity is its
   *     representative, so labeling through `grp` is exactly components
   *     over `repPairs ∪ {(grp, member)}` without ever materializing the
   *     member-level star edges); a duplicate group whose representative
   *     is unclustered is its own cluster labeled `grp`.
   *
   * EXACTNESS (not an approximation): every document has ≥1 shingle (the
   * `<3 words → whole text` fallback in [[shingles]]), so byte-identical
   * texts have identical shingle sets — Jaccard 1.0, every band key
   * shared. Uncapped, the member-level candidate graph connects
   * duplicates pairwise and pairs (copyᵢ(A), copyⱼ(B)) exactly when the
   * rep pair (rep(A), rep(B)) shares a band and passes the same Jaccard —
   * so the collapsed components equal the uncollapsed components on every
   * input (property-tested in DedupSpec). With a bucket cap, the
   * collapsed run's buckets are the DISTINCT-text buckets — the cap
   * engages only on genuine many-distinct-near-dup buckets, never on
   * replication skew, so recall can only improve.
   */
  def dedupComponentsCollapsed(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // one materialization feeds the rep filter, the group sizes, and the
    // member-label join (same discipline as semanticDedupPairs' collapse).
    // The checkpoint blocks are NOT explicitly released (unlike the
    // per-round frames inside connectedComponents): the returned frame is
    // LAZY over `coll`, so the blocks must outlive this call — they are
    // reclaimed by driver GC once the result (and its lineage) is dropped,
    // one checkpoint per call.
    val coll = exactCollapse(documents).localCheckpoint()
    val reps = documents.join(
      coll.filter(col("doc_id") === col("grp")).select(col("doc_id")), Seq("doc_id"))
    val repComp = connectedComponentsAdaptive(
      minhashLsh(reps, threshold, maxBucketSize).select(col("doc_a"), col("doc_b")))
    val gsize = coll.groupBy(col("grp")).agg(count(lit(1)).as("gsz"))
    coll
      .join(gsize, Seq("grp"))
      .join(repComp.select(col("doc_id").as("grp"), col("component")),
        Seq("grp"), "left_outer")
      // clustered via the rep graph, or a ≥2-member duplicate group (its
      // own cluster, labeled by the group minimum = grp)
      .filter(col("component").isNotNull || col("gsz") > 1L)
      .select(col("doc_id"), coalesce(col("component"), col("grp")).as("component"))
      .orderBy(col("doc_id"))
  }

  /**
   * [[dedupCorpusBest]] under exact-duplicate collapse — identical
   * survivors (the component labeling is identical, see
   * [[dedupComponentsCollapsed]], and the longest-member window runs over
   * the same full cluster membership), at distinct-text cost: the 100×
   * exact-replica probe runs this in seconds where the uncollapsed form
   * spends minutes in member-level pair verification (or, uncapped, dies
   * building C(d,2) pairs per group — see docs/BENCH_notes_r9.md).
   */
  def dedupCorpusBestCollapsed(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    keepLongestPerCluster(documents,
      dedupComponentsCollapsed(documents, threshold, maxBucketSize))

  /** [[dedupCorpus]] (min-id survivor) under exact-duplicate collapse —
    * same survivors (identical components, the label IS the min-id
    * survivor), distinct-text cost; completes the collapsed family with
    * [[dedupComponentsCollapsed]] / [[dedupCorpusBestCollapsed]]. */
  def dedupCorpusCollapsed(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val comp = dedupComponentsCollapsed(documents, threshold, maxBucketSize)
    val losers = comp.filter(col("component") =!= col("doc_id")).select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /**
   * x125: cluster-balanced sampling weights — instead of DELETING
   * near-duplicates ([[dedupCorpus]]), give every document the weight
   * `1/|its duplicate cluster|` so each cluster contributes ~unit total
   * mass to a sampled epoch regardless of how many mirrors it has (the
   * soft-dedup policy for corpora where duplication frequency is itself
   * signal — a page mirrored 1000× is probably important, but not 1000×
   * important). Weights are micro fixed-point (`⌊1e6/size⌋` — exact
   * integers, so the census hashes identically across engines); singleton
   * documents carry weight 1.0 (1e6).
   *
   * Scale shape: the component labels cover only CLUSTERED docs (one row
   * per near-dup member — tiny next to the corpus); cluster sizes are one
   * aggregation over that relation, and the corpus picks its weight up
   * through one left join on doc_id (the un-clustered majority joins
   * against nothing and defaults). Nothing new shuffles at corpus scale
   * beyond the detector itself.
   */
  def clusterBalanceCensus(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val comp = connectedComponentsAdaptive(minhashLsh(documents, threshold, maxBucketSize))
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    val labelled = comp.join(sizes, Seq("component"))
    val weighted = documents.select(col("doc_id"), col("lang"))
      .join(labelled, Seq("doc_id"), "left_outer")
      .select(col("lang"), col("component"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      // exact while csize < 2^52 — the winsorCensus floor-division idiom
      .withColumn("w", floor(lit(1000000.0) / col("csize")).cast("long"))
    weighted.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L)).as("dup_docs"),
        countDistinct(col("component")).as("clusters"),
        sum(col("w")).as("weight_mass_micro"),
        min(col("w")).as("min_weight_micro"))
      .orderBy(col("lang"))
  }

  /**
   * x152: duplicate-cluster size histogram — the distribution that tells
   * you what KIND of duplication a corpus carries (many pairs = mirrored
   * pages; a few giant clusters = template spam; the tail drives the
   * bucket-cap and survivor-policy choices the rest of the dedup family
   * parameterizes). One row per cluster size: clusters of that size, docs
   * they hold, and the docs a keep-one policy would remove
   * (`(size−1)·clusters` — the actionable number). Singletons (size 1)
   * are recovered by subtracting clustered docs from the corpus count.
   *
   * Scale shape: component labels → one size aggregation → one histogram
   * aggregation over O(#distinct sizes) rows; the corpus contributes one
   * count.
   */
  def clusterSizeHistogram(documents: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val comp = connectedComponentsAdaptive(minhashLsh(documents, threshold, maxBucketSize))
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    val hist = sizes.groupBy(col("csize")).agg(count(lit(1)).as("clusters"))
    val clusteredDocs = sizes.agg(sum(col("csize")).as("cdocs"))
    val singletons = documents.agg(count(lit(1)).as("docs"))
      .crossJoin(broadcast(clusteredDocs))
      .select(lit(1L).as("csize"), (col("docs") - coalesce(col("cdocs"), lit(0L))).as("clusters"))
    hist.unionByName(singletons)
      .select(col("csize"), col("clusters"),
        (col("csize") * col("clusters")).as("docs"),
        ((col("csize") - 1L) * col("clusters")).as("removable"))
      .orderBy(col("csize"))
  }

  /** First 8 md5 hex chars of a word as a 32-bit unsigned value. */
  private def word32(w: Column): Column =
    graft.functions.GraftFunctions.md5PrefixLong(w, 8)

  /**
   * 32-bit SimHash fingerprints per doc + Hamming-≤`maxDist` pairs.
   * Fingerprint: bit j set iff strictly more than half of the doc's word
   * hashes (with multiplicity) have bit j set. Pair generation uses the
   * pigeonhole principle on the 4 fingerprint bytes (maxDist must be < 4).
   */
  def simhash(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist < 4, "byte-banding guarantees recall only for distance < #blocks (4)")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // Hash each DISTINCT (doc, word) once and weight its bits by the word's
    // occurrence count — identical to hashing every occurrence (the bit sums
    // are the same integers) at ~10x fewer digests on repetitive text.
    val wordCounts = documents
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val wordBits = wordCounts
      .select(col("doc_id"), col("cnt"), word32(col("w")).as("bits"))
    val bitSums = (0 until 32).map(j =>
      sum(shiftright(col("bits"), j).bitwiseAND(lit(1L)) * col("cnt")).as(s"s$j"))
    val aggCols = sum(col("cnt")).as("n") +: bitSums
    val agg = wordBits.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val fp = (0 until 32).map { j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val fps = agg.select(col("doc_id"), fp.as("fp"))
    val blockCols = (0 until 4).map(k =>
      concat(lit(s"$k:"), shiftright(col("fp"), 8 * k).bitwiseAND(lit(255L)).cast("string")))
    val banded = fps.select(col("doc_id"), col("fp"),
      explode(array(blockCols: _*)).as("block"))
    val a = banded.select(col("block"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = banded.select(col("block"), col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    // Hamming test BEFORE dropDuplicates: bit_count is a per-row codegen'd
    // check, the dedup is a shuffle — filtering first shrinks the shuffle to
    // surviving pairs only.
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * x92: blocked edit-distance fuzzy-match census — the record-linkage
   * detector the shingle family can't replace: Levenshtein distance counts
   * character-level edits (typos, OCR noise, inflection), where shingle
   * Jaccard needs whole tokens to agree. The classic use is fuzzy TITLE
   * matching; here each document's "title" proxy is its head — the first
   * `headTokens` tokens rejoined — and two documents fuzzy-match when their
   * heads are within `maxDist` edits.
   *
   * All-pairs Levenshtein is O(n²·len²) — never. Standard blocking makes it
   * an equi-join: candidates must share their first two tokens (the block
   * key), so comparison work is sum of squares of BLOCK sizes, and the
   * quadratic term is bounded by the corpus's head-bigram skew, not n.
   * Documents with fewer than two tokens have a null block key and drop out
   * of the join in both engines, by construction. Within a block the
   * triangle-inequality prefilter `|len(a) − len(b)| ≤ maxDist` (a lower
   * bound on edit distance, so semantics-neutral) runs before the O(len²)
   * `levenshtein` call, which both Spark and DuckDB implement as the same
   * unit-cost insert/delete/substitute DP — an integer, exactly comparable.
   *
   * Output is the pair-distance histogram: for each edit distance 0..maxDist
   * the number of unordered fuzzy pairs, plus how many distinct documents
   * appear in at least one pair at that distance — the audit view that sizes
   * a fuzzy-dedup pass before anyone commits to applying it.
   *
   * 100 TB: the join shuffles head-sized rows (≤ `headTokens` tokens), never
   * full text; hot blocks (stopword bigram heads) are the skew risk — AQE
   * skew-join splits them, and a production run would cap block size the way
   * [[minhashLshCapped]] caps band buckets (kept uncapped here because the
   * census is the point: the histogram must count EVERY pair).
   */
  /** Shared blocking relation for the head-similarity detectors (x92/x95):
    * each doc's head (first `headTokens` tokens rejoined) keyed by its head
    * BIGRAM block; docs with fewer than two tokens drop out (null-equivalent
    * block in both engines). Returned as the two join legs. */
  private def blockedHeadPairs(
      documents: DataFrame, headTokens: Int): (DataFrame, DataFrame) = {
    val ws = TextOps.words(col("text"))
    val heads = documents.select(
      col("doc_id"),
      concat_ws(" ", slice(ws, 1, headTokens)).as("head"),
      concat_ws(" ", slice(ws, 1, 2)).as("blk"),
      (size(ws) >= 2).as("ok"))
      .filter(col("ok"))
    (heads.select(col("blk"), col("doc_id").as("doc_a"), col("head").as("head_a")),
      heads.select(col("blk"), col("doc_id").as("doc_b"), col("head").as("head_b")))
  }

  def fuzzyPairsCensus(
      documents: DataFrame, headTokens: Int = 8, maxDist: Int = 8): DataFrame = {
    val (a, b) = blockedHeadPairs(documents, headTokens)
    // Two cost cuts, both semantics-neutral: (1) equal heads short-circuit
    // to distance 0 (an O(len) comparison instead of the DP — in a
    // duplication-heavy corpus MOST surviving pairs are exact head matches);
    // (2) the threshold form of levenshtein runs the banded DP — O(len·k)
    // cells, returning −1 past `maxDist` — instead of the full O(len²).
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(length(col("head_a")) - length(col("head_b"))) <= maxDist)
      .withColumn("dist", when(col("head_a") === col("head_b"), lit(0))
        .otherwise(levenshtein(col("head_a"), col("head_b"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .groupBy(col("dist").cast("long").as("dist"))
      .agg(
        count(lit(1)).as("pairs"),
        countDistinct(col("doc_a")).as("left_docs"),
        countDistinct(col("doc_b")).as("right_docs"))
      .orderBy(col("dist"))
  }

  /**
   * x95: Jaro–Winkler fuzzy-match census — [[fuzzyPairsCensus]]'s
   * transposition-tolerant, front-weighted sibling, scored by the
   * [[graft.functions.JaroWinkler]] codegen expression (Spark has no
   * built-in JW; this is the record-linkage scorer of choice for short
   * name-like keys, and its per-pair cost is O(len·window) — CHEAPER than
   * banded Levenshtein on near-equal-length heads). Same head-bigram
   * blocking, same scale story.
   *
   * The similarity is quantized to integer micro units with the engine's
   * floor(x·1e6 + 0.5) rule BEFORE filtering and grouping, so the histogram
   * key is a BIGINT — no float groups cross the oracle boundary. Equal
   * heads short-circuit to exactly 1e6 micro (JW of identical strings is
   * 1.0 by definition), skipping the match loop for the duplication-heavy
   * common case.
   */
  def jaroPairsCensus(
      documents: DataFrame, headTokens: Int = 8, minSimMicro: Long = 900000L): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val (a, b) = blockedHeadPairs(documents, headTokens)
    val jw = call_function("jaro_winkler", col("head_a"), col("head_b"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("sim_micro", when(col("head_a") === col("head_b"), lit(1000000L))
        .otherwise(floor(jw * lit(1e6) + lit(0.5)).cast("long")))
      .filter(col("sim_micro") >= minSimMicro)
      .groupBy(col("sim_micro"))
      .agg(
        count(lit(1)).as("pairs"),
        countDistinct(col("doc_a")).as("left_docs"),
        countDistinct(col("doc_b")).as("right_docs"))
      .orderBy(col("sim_micro"))
  }
}
