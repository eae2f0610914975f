package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps, PrepOps, SimilarityOps}
import graft.sources.{IdempotentAppend, Maintenance}
import graft.sources.IdempotentAppend.Into

/**
 * Streaming corpus ingest with INCREMENTAL near-duplicate detection — the
 * streaming twin of [[DedupOps.minhashLshIncremental]], for the way a
 * 100 TB corpus actually grows: continuously, batch by batch. Each
 * micro-batch is banded and verified against the persisted signature
 * store (cost ∝ batch, never ∝ corpus), its confirmed pairs appended to
 * a pairs table (tagged with the batch id), and its own signatures
 * appended to the store so later batches dedup against it.
 *
 * Wire as `docsStream.writeStream.foreachBatch(
 * CorpusStream.dedupIngestBatch(store, pairs)).start()`.
 *
 * Replay semantics mirror [[LedgerStream.appendBatch]]: every sink here
 * is one [[graft.sources.IdempotentAppend.runBatch]] call naming its
 * destinations. A commit marker under the sink's root (the store root for
 * the dedup sink) makes a replayed micro-batch (restart between the sink
 * commit and the checkpoint commit) a no-op. The marker alone cannot cover
 * a crash INSIDE the batch (it is written last, not atomically with the
 * writes), so every append stages, then moves its files in under
 * `b<batchId>_` names, wiping a crashed attempt's; and the dedup sink
 * recomputes its pairs against the store MINUS the batch's own ids
 * ([[graft.operators.DedupOps.minhashLshIncrementalReplayable]]), so a
 * retry reproduces the first attempt's rows no matter where the crash
 * landed. Net contract: EXACTLY-ONCE sink contents under at-least-once
 * micro-batch delivery, with the marker as the fast-path skip.
 */
object CorpusStream {

  /** foreachBatch sink: incremental-dedup then store-append one
    * micro-batch of documents (doc_id must be corpus-unique). The first
    * batch bootstraps the store and dedups within itself. */
  def dedupIngestBatch(
      storePath: String,
      pairsPath: String,
      threshold: Double = 0.8,
      maxBucketSize: Int = DedupOps.DefaultMaxBucketSize)(
      batch: DataFrame, batchId: Long): Unit =
    try {
      // pairs BEFORE the store append — and via the REPLAYABLE variant,
      // whose store-side exclusion of the batch's own ids makes the
      // recompute deterministic even when a crashed prior attempt already
      // appended this batch's signatures. "Bootstrapped" means the bands
      // table has at least one DATA file — a crashed first attempt can
      // leave the directory existing but EMPTY (the move mkdirs the
      // destination before its first rename), and reading that as a
      // store would throw on every replay, wedging the stream. A store
      // holding only this batch's own residue is fine: the exclusion
      // reduces the incremental detector to the same within-batch-only
      // computation the plain path runs.
      def pairs = {
        val bandsDir = new Path(s"$storePath/bands")
        val fs = Maintenance.fileSystem(batch.sparkSession, storePath)
        val bootstrapped = fs.exists(bandsDir) &&
          fs.listStatus(bandsDir).exists(s =>
            s.isFile && !s.getPath.getName.startsWith("_"))
        if (bootstrapped)
          DedupOps.minhashLshIncrementalReplayable(batch, storePath, threshold, maxBucketSize)
        else DedupOps.minhashLsh(batch, threshold, maxBucketSize)
      }
      // bootstrap and growth are the SAME idempotent append — a separate
      // overwrite-mode bootstrap would reopen the window it exists to
      // close (a crashed first attempt's store, rebuilt as batch residue
      // the retry cannot distinguish from prior corpus)
      IdempotentAppend.runBatch(batch.sparkSession, storePath, batchId)(
        Into(pairsPath)(pairs.withColumn("batch_id", lit(batchId))) +:
          DedupOps.lshStoreAppends(batch, storePath): _*)
    } finally
      // the shared shingle cache is plan-keyed per BATCH here — a stream
      // that never dropped it would accrete one entry per micro-batch
      DedupOps.unpersistShingles(batch)

  /**
   * foreachBatch sink: the streaming PREP pipeline — redact → quality
   * filter → split assignment ([[graft.operators.PrepOps]]), appended to a
   * curated corpus partitioned by split. Every stage is per-row (the batch
   * never shuffles), and the split is content-independent md5 hashing, so
   * the streamed corpus is IDENTICAL to running the same operators in
   * batch over the union of micro-batches — no cross-batch state needed at
   * all, which is why this composition streams for free. Same
   * marker-guarded exactly-once contract as [[dedupIngestBatch]] — a
   * crash-replayed batch must not double-write documents into a corpus
   * whose whole point is deduplication.
   */
  def prepIngestBatch(
      outPath: String,
      patterns: Seq[(String, String)] = PrepOps.PiiPatterns,
      replacement: String = "<PII>",
      minWords: Int = 30,
      maxWords: Int = 1000,
      trainPct: Int = 80,
      valPct: Int = 10,
      failpoint: Long => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit =
    // the failpoint is a chaos hook in the protocol's only unguarded
    // window — after the batch's files are installed, before the commit
    // marker. The x159 gate throws there to prove the crash-replay
    // converges over real transport; production callers leave the no-op.
    IdempotentAppend.runBatch(batch.sparkSession, outPath, batchId, failpoint)(
      Into(outPath, "split") {
        // Re-spread a narrow micro-batch before the per-row-heavy prep
        // stages: a file-source trigger of one big file arrives as ONE
        // partition, which would run the whole regex/quality pass on a
        // single core (measured: a 625k-doc slice took ~9 min single-
        // partition at the 500× probe vs seconds spread). Row set and
        // output are unchanged — the sink's exactly-once contract is
        // per-batch, not per-file-layout.
        val nPart = batch.sparkSession.sessionState.conf.numShufflePartitions
        val spread =
          if (batch.rdd.getNumPartitions < nPart / 2) batch.repartition(nPart)
          else batch
        PrepOps.splitAssign(
          PrepOps.qualityFilter(
            PrepOps.redact(spread, patterns, replacement), minWords, maxWords),
          trainPct, valPct)
      })

  /**
   * foreachBatch sink: the streaming content-mix monitor — each
   * micro-batch's per-source KL drift against a FIXED reference
   * distribution ([[CurationOps.sourceDriftKlVsReference]]; the reference
   * is the last accepted corpus snapshot, loaded once and closed over),
   * appended with the batch id to a drift log a dashboard tails. A source
   * whose KL or novel-token count jumps mid-stream changed its content
   * mix (scraper bug, language shift, new boilerplate) — caught at ingest
   * time, not at the next full-corpus audit.
   *
   * Cross-batch-STATELESS by design, like [[prepIngestBatch]]: each
   * batch is scored independently against the static reference, so replay
   * determinism needs no state store; the marker guard makes re-runs
   * no-ops. The per-batch cost is one batch-sized token count + a
   * vocab-sized join — never proportional to the corpus.
   */
  def driftMonitorBatch(
      reference: DataFrame,
      driftLogPath: String)(
      batch: DataFrame, batchId: Long): Unit =
    IdempotentAppend.runBatch(batch.sparkSession, driftLogPath, batchId)(
      Into(driftLogPath)(CurationOps.sourceDriftKlVsReference(batch, reference)
        .withColumn("batch_id", lit(batchId))))

  /**
   * foreachBatch scorecard monitor — [[graft.operators.PrepOps
   * .sourceScorecard]] (x98) per micro-batch: each ingest batch appends its
   * own per-source volume / dup-rate / keep-rate rows keyed by `batch_id`,
   * so a feed whose duplication or quality-failure rate spikes is flagged
   * on THIS batch, hours before the next full-corpus audit would see it.
   *
   * Cross-batch-STATELESS like [[driftMonitorBatch]] (per-batch rates need
   * no history; trend reading happens downstream over the log), with the
   * same marker guard making replays no-ops — the log stays append-exact
   * under at-least-once delivery.
   */
  def scorecardBatch(
      scorecardLogPath: String,
      minWords: Int = 30,
      maxWords: Int = 1000)(
      batch: DataFrame, batchId: Long): Unit =
    IdempotentAppend.runBatch(batch.sparkSession, scorecardLogPath, batchId)(
      Into(scorecardLogPath)(PrepOps.sourceScorecard(batch, minWords, maxWords)
        .withColumn("batch_id", lit(batchId))))

  /**
   * x159: EXACTLY-ONCE [[graft.sources.IdempotentAppend]] RECOVERY over
   * REAL TRANSPORT — the foreachBatch complement of
   * [[EventStream.fileStreamRecoveryCensus]] (x154 proves checkpoint
   * recovery for the built-in parquet sink; the five custom foreachBatch
   * sinks were exactly-once by protocol + chaos tests only — this gate
   * makes one of them driver-gated). The documents relation is spooled
   * to real parquet slice files; a file-source stream
   * (maxFilesPerTrigger=1) runs [[prepIngestBatch]] — redact → quality
   * filter → split assign → IdempotentAppend — with a checkpoint, and
   * the run is interrupted twice:
   *
   *  - an INJECTED CRASH in the protocol's only unguarded window (after
   *    the batch's files are installed, before the commit marker) on
   *    `crashBatch`'s first attempt: the streaming query dies mid-batch
   *    over real transport, a fresh incarnation resumes from the
   *    checkpoint, the WAL replays the same offset range, and the replay
   *    must wipe the installed residue by file-name prefix and converge
   *    to one copy;
   *  - a scheduled STOP/RESTART after every `stopAfter` slices (x154's
   *    shape), so offset-log recovery is proven for this sink too.
   *
   * The drained corpus, read back and censused per (split, lang), must
   * equal the batch pipeline over the whole relation EXACTLY — counts
   * can only be right if no batch's rows vanished (state recovered) and
   * none doubled (the crash-replay held exactly-once).
   *
   * At 100 TB this IS the production ingest shape: a watched directory,
   * a checkpointed query surviving crashes anywhere in the sink
   * protocol, an append-exact curated corpus. The pipeline is stateless
   * per-row, so slice order is irrelevant to the result — transport
   * recovery is the entire contract under test.
   */
  def prepStreamRecoveryCensus(
      documents: DataFrame,
      nFiles: Int = 4,
      stopAfter: Int = 2,
      crashBatch: Long = 1L,
      patterns: Seq[(String, String)] = PrepOps.PiiPatterns,
      replacement: String = "<PII>",
      minWords: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nFiles >= 2 && stopAfter >= 1 && stopAfter < nFiles,
      s"need 1 <= stopAfter < nFiles, got $stopAfter/$nFiles")
    require(crashBatch >= 0 && crashBatch < nFiles,
      s"crashBatch must name one of the $nFiles slices, got $crashBatch")
    val spark = documents.sparkSession
    EventStream.collectedInTempDir(spark, "graft_x159_") { base =>
      val pending = java.nio.file.Files.createDirectory(base.resolve("pending"))
      val srcDir = java.nio.file.Files.createDirectory(base.resolve("src"))
      val outPath = base.resolve("out").toString
      val ckpt = base.resolve("ckpt").toString
      val evs = documents.select(col("doc_id"), col("lang"), col("text"))
      // gate-scale fixture prep, same spool as x154: ntile over doc_id
      // cuts the corpus into nFiles slices (the pipeline is stateless, so
      // any deterministic slicing yields the same final corpus).
      // Materialized once so the per-slice spools don't re-run the sort.
      val sliced = evs.withColumn("slice",
        ntile(nFiles).over(Window.orderBy(col("doc_id"))))
        .localCheckpoint()
      val names = (1 to nFiles).map(i => f"f$i%02d")
      names.zipWithIndex.foreach { case (n, i) =>
        EventStream.spool(sliced.filter(col("slice") === i + 1).drop("slice"),
          base, pending, n, "doc_id")
      }

      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failpoint: Long => Unit = bid =>
        if (bid == crashBatch && !crashed.getAndSet(true))
          throw new RuntimeException(
            s"graft-x159: injected crash after install, before marker (batch $bid)")
      val sink = prepIngestBatch(outPath, patterns, replacement, minWords,
        1000, 80, 10, failpoint) _

      val schema = evs.schema
      def startQuery(): org.apache.spark.sql.streaming.StreamingQuery =
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
          .writeStream
          .foreachBatch(sink)
          .option("checkpointLocation", ckpt)
          .start()
      var q = startQuery()
      try {
        names.grouped(stopAfter).zipWithIndex.foreach { case (group, gi) =>
          if (gi > 0) { q.stop(); q = startQuery() } // scheduled restart
          group.foreach { name =>
            java.nio.file.Files.move(pending.resolve(name + ".parquet"),
              srcDir.resolve(name + ".parquet"))
            try q.processAllAvailable()
            catch { case _: org.apache.spark.sql.streaming.StreamingQueryException =>
              // the injected mid-batch crash killed the incarnation: a
              // fresh one resumes from the checkpoint and replays the
              // batch from the WAL'd offset range
              q = startQuery()
              q.processAllAvailable()
            }
          }
        }
      } finally q.stop()

      val result = spark.read.parquet(outPath)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(lower(col("text")), " ")).cast("long")).as("tokens"))
        .orderBy(col("split"), col("lang"))
      require(crashed.get(), "x159: the injected crash never fired — the " +
        "gate would be proving nothing; check crashBatch against the slicing")
      result
    }
  }

  /**
   * foreachBatch sink: STREAMING IVF ingest — embeddings arriving batch by
   * batch append to a persisted IVF index under a FIXED quantizer
   * (bootstrap the centroid table once with
   * [[SimilarityOps.writeIvfCentroids]] or [[SimilarityOps.trainCentroids]]
   * before starting the stream). Each batch costs one assignment pass
   * against the tiny centroid table (broadcast NL join) plus a
   * partitioned parquet append — cost ∝ batch, never ∝ index — and the
   * append contract ([[SimilarityOps.appendIvfIndex]], pinned by
   * SimilarityIndexSpec) makes the streamed store row-identical to a
   * batch build over the union of micro-batches: queries against it are
   * exact, not approximations of the batch path. Same marker-guarded
   * exactly-once contract as [[dedupIngestBatch]]: the assignment rows
   * route through [[graft.sources.IdempotentAppend]], so at-least-once
   * delivery never double-inserts a vector — including a crash-replay
   * INSIDE the batch, where a bare append would leave a vector surfacing
   * twice in every top-k that probes its cell.
   */
  def ivfIngestBatch(indexPath: String)(batch: DataFrame, batchId: Long): Unit =
    IdempotentAppend.runBatch(batch.sparkSession, indexPath, batchId)(
      Into(indexPath, "cid")(SimilarityOps.assignedForIndex(batch, indexPath)))
}
