package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, SessionEvent}

/**
 * Chaos / degradation contracts for the REAL-TRANSPORT streaming path
 * (the x154 neighborhood). x154 proves the happy recovery path —
 * checkpointed restart lands on the batch census. These tests pin the
 * OTHER contracts a production ingest relies on, each of which is a
 * silent-corruption source if misunderstood:
 *
 *  - the state backend is pluggable: the same recovery gate must pass on
 *    the RocksDB state store (the 100 TB backend — state off-heap on
 *    local disk, incremental snapshots — vs the default HDFS-backed
 *    provider that holds every key in executor heap);
 *  - file-source exactly-once is keyed BY PATH: rewriting an
 *    already-seen path is a no-op (safe redelivery), while the same
 *    bytes under a NEW name double-count (so an at-least-once upstream
 *    must redeliver under stable names, never fresh ones);
 *  - events older than the watermark are DROPPED, not double-counted
 *    and not retroactively merged into finalized windows — the
 *    documented degradation direction for out-of-order transport;
 *  - the sessionizer's `flatMapGroupsWithState` state (a case-class
 *    encoder, not a built-in agg buffer) also survives checkpointed
 *    restart — x154 only exercises the window-aggregation state format.
 */
class StreamChaosSpec extends SparkSpec {

  /** (event_id, event_type, "yyyy-MM-dd HH:mm:ss") rows in x154's shape. */
  private def tsDf(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("event_id", "event_type", "s")
      .select(col("event_id"), col("event_type"), to_timestamp(col("s")).as("ts"))
  }

  private val recoveryFixture = Seq(
    (1L, "A", "2024-01-15 10:00:00"), (2L, "B", "2024-01-15 11:00:00"),
    (3L, "A", "2024-01-16 09:00:00"), (4L, "A", "2024-01-16 10:00:00"),
    (5L, "B", "2024-01-16 11:00:00"), (6L, "A", "2024-01-17 08:00:00"),
    (7L, "B", "2024-01-17 09:00:00"), (8L, "A", "2024-01-17 10:00:00"))

  private val recoveryExpected = Seq(
    ("2024-01-15", "A", 1L), ("2024-01-15", "B", 1L),
    ("2024-01-16", "A", 2L), ("2024-01-16", "B", 1L),
    ("2024-01-17", "A", 2L), ("2024-01-17", "B", 1L))

  test("x154 recovery gate passes unchanged on the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val r = EventStream
        .fileStreamRecoveryCensus(tsDf(recoveryFixture: _*), 4, 2).collect()
        .map(x => (x.getDate(0).toString, x.getString(1), x.getLong(2))).toSeq
      assert(r == recoveryExpected, r.mkString(","))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Stage a one-row-group parquet file and move it ATOMICALLY into the
    * watched source dir (the same stage-then-move discipline as x154's
    * spool — a file must never be listable half-written). */
  private def spool(df: DataFrame, base: java.nio.file.Path,
      srcDir: java.nio.file.Path, name: String): Unit = {
    val stage = base.resolve("stage_" + name)
    df.coalesce(1).write.parquet(stage.toString)
    val listing = java.nio.file.Files.list(stage)
    val part = try listing.filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally listing.close()
    java.nio.file.Files.move(part, srcDir.resolve(name + ".parquet"))
  }

  /** Run one incarnation of a checkpointed daily-window census query over
    * `srcDir` → parquet sink, draining everything currently pending. */
  private def drainWindowQuery(srcDir: String, outDir: String, ckpt: String,
      watermark: String): Unit = {
    val schema = tsDf().schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  private def readCensus(outDir: String): Seq[(String, String, Long)] =
    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "__sentinel")
      .select(col("w.start").cast("date").cast("string").as("day"), col("event_type"), col("n"))
      .orderBy(col("day"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  test("file-source exactly-once is PER PATH: same-path rewrite ignored, new-path bytes double-count") {
    val base = tempDir("graft_chaos_redeliver_")
    val srcDir = java.nio.file.Files.createDirectory(base.resolve("src"))
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    try {
      val day1 = tsDf((1L, "A", "2024-01-15 10:00:00"), (2L, "A", "2024-01-15 11:00:00"))
      spool(day1, base, srcDir, "f01")
      spool(tsDf((3L, "B", "2024-01-16 09:00:00")), base, srcDir, "f02")
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")

      // REDELIVERY, form 1: the same path rewritten with the same bytes
      // (an at-least-once upstream re-pushing a slice under its stable
      // name). The source's seen-files map is keyed by path → no-op.
      val stage = base.resolve("redeliver_stage")
      day1.coalesce(1).write.parquet(stage.toString)
      val listing = java.nio.file.Files.list(stage)
      val part = try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get() finally listing.close()
      java.nio.file.Files.move(part, srcDir.resolve("f01.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")

      // flush day-1/day-2 windows and check: day-1 count is STILL 2
      spool(tsDf((9L, "__sentinel", "2024-06-01 00:00:00")), base, srcDir, "f03")
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")
      assert(readCensus(outDir) == Seq(
        ("2024-01-15", "A", 2L), ("2024-01-16", "B", 1L)))

      // REDELIVERY, form 2: the same bytes under a NEW name is a NEW file
      // to the source — it double-counts. Day 1 is already finalized and
      // the redelivered events are beyond the watermark → dropped late,
      // which is exactly WHY stable names matter: redelivery under fresh
      // names is not even deterministically wrong — what it does depends
      // on where the watermark sits. Pin the post-finalization case: the
      // sink stays correct (no duplicate window), the late copy vanishes.
      spool(day1, base, srcDir, "f01_copy")
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")
      assert(readCensus(outDir) == Seq(
        ("2024-01-15", "A", 2L), ("2024-01-16", "B", 1L)))
    } finally deleteTree(base)
  }

  test("events later than the watermark are dropped, never merged into finalized windows") {
    val base = tempDir("graft_chaos_late_")
    val srcDir = java.nio.file.Files.createDirectory(base.resolve("src"))
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    try {
      spool(tsDf((1L, "A", "2024-01-15 10:00:00"), (2L, "A", "2024-01-15 11:00:00")),
        base, srcDir, "f01")
      spool(tsDf((3L, "B", "2024-01-16 09:00:00")), base, srcDir, "f02")
      // day-4 slice advances the watermark to day-3 09:00 → the day-1 and
      // day-2 windows finalize and commit to the sink
      spool(tsDf((4L, "A", "2024-01-18 09:00:00")), base, srcDir, "f03")
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")
      assert(readCensus(outDir) == Seq(
        ("2024-01-15", "A", 2L), ("2024-01-16", "B", 1L)))

      // a straggler slice carrying another day-1 event arrives AFTER the
      // watermark passed: it must be dropped — day 1 stays 2, no
      // duplicate day-1 window row appears later
      spool(tsDf((5L, "A", "2024-01-15 12:00:00")), base, srcDir, "f04_late")
      spool(tsDf((9L, "__sentinel", "2024-06-01 00:00:00")), base, srcDir, "f05")
      drainWindowQuery(srcDir.toString, outDir, ckpt, "1 day")
      val r = readCensus(outDir)
      assert(r == Seq(
        ("2024-01-15", "A", 2L), ("2024-01-16", "B", 1L),
        ("2024-01-18", "A", 1L)), r.mkString(","))
      // …and the batch census over ALL delivered events disagrees (day 1
      // = 3): the drop is a real divergence with a declared direction,
      // not an accident of the fixture
      val batchDay1 = tsDf(
        (1L, "A", "2024-01-15 10:00:00"), (2L, "A", "2024-01-15 11:00:00"),
        (5L, "A", "2024-01-15 12:00:00"))
        .groupBy(window(col("ts"), "1 day"), col("event_type")).count()
        .collect().head.getLong(2)
      assert(batchDay1 == 3L)
    } finally deleteTree(base)
  }

  test("ivfIngestBatch: a crash before the marker replays to exactly-once index rows") {
    import graft.operators.SimilarityOps
    import graft.streaming.CorpusStream
    import spark.implicits._
    val emb = (0L until 20L)
      .map(i => (i, Array.tabulate(4)(j => math.sin(i * 7.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val base = tempDir("graft_chaos_ivf_")
    try {
      val path = base.resolve("ivf").toString
      SimilarityOps.writeIvfCentroids(emb, path, 5, 4)
      val sink = CorpusStream.ivfIngestBatch(path) _
      sink(emb.filter(col("vec_id") < 10), 0L)
      sink(emb.filter(col("vec_id") >= 10), 1L)
      // the crash window the marker can't cover: batch 1's append
      // committed, the marker write never happened → the checkpoint
      // replays batch 1 on restart
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_batches/1"), false))
      sink(emb.filter(col("vec_id") >= 10), 1L)

      val idx = spark.read.parquet(path)
      assert(idx.count() == 20, "crash-replay must not duplicate vectors")
      assert(idx.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
      // and the user-visible consequence: a top-k never surfaces one id twice
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
      val top = SimilarityOps.queryIvfIndexLive(spark, path, q, 0L, 5, 3)
        .collect().map(_.getLong(0)).toSeq
      assert(top.distinct == top, s"duplicate ids in top-k: $top")
    } finally deleteTree(base)
  }

  test("replayable incremental dedup excludes the batch via BROADCAST anti-joins") {
    import graft.operators.DedupOps
    // the store-side self-exclusion must stay a broadcast anti-join (cost
    // ∝ batch id-list) — a shuffle here would scale with the 100 TB store
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val base = tempDir("graft_chaos_plan_")
    try {
      val store = base.resolve("store").toString
      DedupOps.buildLshStore(docs.filter(col("doc_id") % 2 === 0), store)
      val p = DedupOps.minhashLshIncrementalReplayable(
        docs.filter(col("doc_id") % 2 === 1), store, 0.8, Int.MaxValue)
        .queryExecution.executedPlan.toString
      val antiJoins = "BroadcastHashJoin .*LeftAnti".r.findAllIn(p).size
      assert(antiJoins >= 2, s"expected broadcast anti-joins for both store " +
        s"relations, found $antiJoins:\n${p.take(2500)}")
      assert(!"SortMergeJoin .*LeftAnti".r.findAllIn(p).hasNext,
        s"store exclusion shuffled:\n${p.take(2500)}")
    } finally deleteTree(base)
  }

  test("dedupIngestBatch: crash-replay converges to the uncrashed pairs AND store") {
    import graft.operators.DedupOps
    import graft.streaming.CorpusStream
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val full = DedupOps.minhashLsh(docs, 0.8, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = tempDir("graft_chaos_dedup_")
    try {
      val store = base.resolve("store").toString
      val pairs = base.resolve("pairs").toString
      val sink = CorpusStream.dedupIngestBatch(store, pairs, 0.8, Int.MaxValue) _
      def b(i: Long) = docs.filter(col("doc_id") % 3 === i)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      def crashReplay(i: Long): Unit = {
        assert(fs.delete(new org.apache.hadoop.fs.Path(s"$store/_graft_batches/$i"), false))
        sink(b(i), i)
      }
      // crash the BOOTSTRAP batch (retry sees its own residue as "store")
      sink(b(0), 0L); crashReplay(0L)
      // crash a GROWTH batch (retry must exclude itself from matching)
      sink(b(1), 1L); crashReplay(1L)
      sink(b(2), 2L)

      val got = spark.read.parquet(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == full, s"missing=${full -- got} extra=${got -- full}")
      // exactly-once ROWS, not merely the right set
      assert(spark.read.parquet(pairs)
        .groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0,
        "crash-replay duplicated pair rows")
      // the store holds each doc's signatures exactly once
      assert(spark.read.parquet(s"$store/bands")
        .groupBy("doc_id", "band_key").count().filter(col("count") > 1).count() == 0,
        "crash-replay duplicated store signatures")
    } finally deleteTree(base)
  }

  test("ledger appendBatch: crash before the marker replays to exactly-once rows") {
    import graft.streaming.LedgerStream
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "ok"),
      (2L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "ok"))
    val base = tempDir("graft_chaos_ledger_")
    try {
      val path = base.resolve("ledger").toString
      val sink = LedgerStream.appendBatch(path) _
      sink(rows, 0L)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_batches/0"), false))
      sink(rows, 0L) // crash-replay: append committed, marker never written
      val back = spark.read.parquet(path)
      assert(back.count() == 2, "crash-replay must not duplicate ledger rows")
      assert(back.groupBy("record_id").count().filter(col("count") > 1).count() == 0)

      // crash AFTER the marker, before the stage cleanup: the stage of a
      // committed batch is left, quiet past the liveness grace
      val stage = graft.sources.IdempotentAppend.stagePath(path, 0L)
      assert(!fs.exists(stage))
      fs.mkdirs(stage)
      fs.create(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"), true).close()
      val old = System.currentTimeMillis() - 16 * 60 * 1000L
      fs.setTimes(stage, old, old)
      sink(rows, 0L) // the replay skips on the marker and clears the stage
      assert(spark.read.parquet(path).count() == 2, "a committed batch's replay adds no row")
      assert(!fs.exists(stage), "the replay of a committed batch removes its stage")
      assert(graft.sources.LedgerTables.deleteWhere(spark, path, col("record_id") === 2L) == 1L)
      assert(spark.read.parquet(path).count() == 1)
    } finally deleteTree(base)
  }

  test("sessionizer flatMapGroupsWithState state survives a checkpointed restart") {
    val base = tempDir("graft_chaos_sess_")
    val srcDir = java.nio.file.Files.createDirectory(base.resolve("src"))
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    try {
      def evDf(rows: (Long, String, Long)*): DataFrame =
        rows.toSeq.toDF("user_id", "s", "event_id")
          .select(col("user_id"), to_timestamp(col("s")).as("ts"), col("event_id"))
      def incarnation(): Unit = {
        val schema = Encoders.product[SessionEvent].schema
        val q = EventStream.sessionize(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(srcDir.toString)
            .as[SessionEvent],
          gapMinutes = 30, watermark = "1 hour")
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // incarnation 1: user 1's session OPEN (2 events), user 2's OPEN
      spool(evDf((1L, "2024-01-15 10:00:00", 1L), (1L, "2024-01-15 10:10:00", 2L),
        (2L, "2024-01-15 10:15:00", 3L)), base, srcDir, "f01")
      incarnation()
      // incarnation 2 (recovered state): user 1's 11:30 event exceeds the
      // 30-min gap — the session RECOVERED FROM THE CHECKPOINT closes with
      // n=2 (if state were lost it would never emit, or emit n=1);
      // user 2's 10:20 event extends the recovered session to n=2
      spool(evDf((1L, "2024-01-15 11:30:00", 4L), (2L, "2024-01-15 10:20:00", 5L)),
        base, srcDir, "f02")
      incarnation()
      // incarnation 3: sentinel advances the watermark past every
      // last + gap → event-time timeouts flush the remaining open sessions
      spool(evDf((99L, "2024-01-17 00:00:00", 9L)), base, srcDir, "f03")
      incarnation()

      val streamed = spark.read.parquet(outDir)
        .filter(col("user_id") =!= 99L)
        .select(col("user_id"), col("session_start").cast("string"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == Set(
        (1L, "2024-01-15 10:00:00", 2L),
        (1L, "2024-01-15 11:30:00", 1L),
        (2L, "2024-01-15 10:15:00", 2L)), streamed.mkString(","))

      // the batch operator over the union of all slices agrees row-for-row
      val all = evDf(
        (1L, "2024-01-15 10:00:00", 1L), (1L, "2024-01-15 10:10:00", 2L),
        (2L, "2024-01-15 10:15:00", 3L), (1L, "2024-01-15 11:30:00", 4L),
        (2L, "2024-01-15 10:20:00", 5L))
      val batch = graft.operators.EventOps.sessionize(all, 30).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val streamCensus = streamed.groupBy(_._1).map { case (u, ss) =>
        u -> (ss.size.toLong, ss.map(_._3).max) }
      assert(streamCensus == batch)
    } finally deleteTree(base)
  }

  test("IdempotentAppend: partial-install residue (crash mid-rename) is wiped, retry converges") {
    import graft.sources.IdempotentAppend
    import spark.implicits._
    // the one crash point the sink-level tests don't reach directly: SOME
    // renames landed, the stage survives, and the landed files need not
    // match the retry's file set name-for-name — the retry's prefix wipe
    // must claim them all before its own renames
    val df = (1L to 90L).map(i => (i, s"v$i", (i % 3).toString))
      .toDF("id", "v", "part")
    val base = tempDir("graft_chaos_partial_")
    try {
      val path = base.resolve("t").toString
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      IdempotentAppend.append(df, path, 5L, Seq("part"))
      val clean = spark.read.parquet(path).orderBy("id").collect().toSeq

      // fabricate the crashed attempt: a b5_ file under a name the retry
      // will NOT produce (simulating an attempt whose file indices
      // differed), plus a stranded stage directory with stale bytes
      val p0 = new org.apache.hadoop.fs.Path(s"$path/part=0")
      val installed = fs.listStatus(p0).filter(_.getPath.getName.startsWith("b5_"))
      assert(installed.nonEmpty)
      org.apache.hadoop.fs.FileUtil.copy(fs, installed.head.getPath,
        fs, new org.apache.hadoop.fs.Path(p0, "b5_p999.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
      val staleStage = IdempotentAppend.stagePath(path, 5L)
      fs.mkdirs(staleStage)
      fs.create(new org.apache.hadoop.fs.Path(staleStage, "part-zzz"), true).close()

      // without the wipe this reads rows from part=0 TWICE
      assert(spark.read.parquet(path).count() > 90)
      IdempotentAppend.append(df, path, 5L, Seq("part"))
      assert(spark.read.parquet(path).orderBy("id").collect().toSeq == clean,
        "retry after partial install must land on the clean file set")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p0, "b5_p999.parquet")),
        "foreign-named residue of the crashed attempt must be wiped")
      // the stage dir is the in-flight SENTINEL: it must survive append()
      // (assertNoUnresolved keys on it) and clear only at finish()
      assert(fs.exists(staleStage), "stage sentinel must survive append()")
      val markerDir = new org.apache.hadoop.fs.Path(s"$path/_graft_batches")
      IdempotentAppend.finish(fs, markerDir, 5L, Seq(path))
      assert(!fs.exists(staleStage), "finish() must clear the stage sentinel")
      assert(IdempotentAppend.committed(fs, markerDir, 5L, Seq(path)))

      // a LATER batch's files are untouchable by batch 5's wipe
      IdempotentAppend.append(df.filter(col("id") <= 3), path, 6L, Seq("part"))
      IdempotentAppend.append(df, path, 5L, Seq("part"))
      assert(spark.read.parquet(path).count() == 93,
        "batch 5's residue wipe must not claim batch 6's files")
    } finally deleteTree(base)
  }

  test("table rewrites fail fast on an unresolved streaming append; proceed once resolved") {
    import graft.streaming.LedgerStream
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "ok"),
      (2L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "failed"))
    val base = tempDir("graft_chaos_guard_")
    try {
      val path = base.resolve("ledger").toString
      val sink = LedgerStream.appendBatch(path) _
      sink(rows, 0L)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      // crash INSIDE batch 1: installed (append ran) but never committed —
      // exactly the state a rewrite would corrupt by merging b1_ files
      // into unprefixed ones before the stream's replay can claim them
      graft.sources.IdempotentAppend.append(
        ledgerOf((3L, "p", "i", "2024-01-17 10:00:00", "2024-01-17 11:00:00", "ok")),
        path, 1L, Seq("query_window_start_day"))
      // age the stage past the liveness grace: a FRESH stage is treated
      // as a live concurrent appender (which rewrites support and
      // ConcurrentAppendDmlSpec locks); only a QUIET one is abandoned
      val stage = graft.sources.IdempotentAppend.stagePath(path, 1L)
      val old = System.currentTimeMillis() - 16 * 60 * 1000L
      fs.setTimes(stage, old, old)
      val e1 = intercept[java.io.IOException] {
        graft.sources.LedgerTables.deleteWhere(
          spark, path, col("pipeline_status") === "failed")
      }
      assert(e1.getMessage.contains("unresolved streaming append"))
      val e2 = intercept[java.io.IOException] {
        graft.sources.Maintenance.compact(spark, path)
      }
      assert(e2.getMessage.contains("unresolved streaming append"))
      // the stream recovers: the replay converges and commits batch 1 …
      sink(ledgerOf((3L, "p", "i", "2024-01-17 10:00:00", "2024-01-17 11:00:00", "ok")), 1L)
      assert(spark.read.parquet(path).count() == 3)
      // … and the rewrite proceeds, exactly-once intact
      val n = graft.sources.LedgerTables.deleteWhere(
        spark, path, col("pipeline_status") === "failed")
      assert(n == 1 && spark.read.parquet(path).count() == 2)

      // the store compactions commit through the same rewrite
      import graft.operators.{DedupOps, SimilarityOps}
      import graft.sources.IdempotentAppend
      import graft.streaming.CorpusStream
      import spark.implicits._
      // an IVF index whose batch 1 installed but never committed
      val emb = (0L until 20L)
        .map(i => (i, Array.tabulate(4)(j => math.sin(i * 7.0 + j).toFloat)))
        .toDF("vec_id", "embedding")
      val ivf = base.resolve("ivf").toString
      SimilarityOps.writeIvfCentroids(emb, ivf, 5, 4)
      CorpusStream.ivfIngestBatch(ivf)(emb.filter(col("vec_id") < 10), 0L)
      IdempotentAppend.append(SimilarityOps.assignedForIndex(
        emb.filter(col("vec_id") >= 10), ivf), ivf, 1L, Seq("cid"))
      fs.setTimes(IdempotentAppend.stagePath(ivf, 1L), old, old)
      SimilarityOps.retireIvfIndex(Seq(0L).toDF("vec_id"), ivf)
      val e3 = intercept[java.io.IOException] { SimilarityOps.compactIvfIndex(spark, ivf) }
      assert(e3.getMessage.contains("unresolved streaming append"))
      CorpusStream.ivfIngestBatch(ivf)(emb.filter(col("vec_id") >= 10), 1L)
      SimilarityOps.compactIvfIndex(spark, ivf)
      assert(spark.read.parquet(ivf).select("vec_id").as[Long].collect().sorted.toSeq ==
        (1L until 20L), "the replayed batch once, the retired vector gone")

      // an LSH store whose batch 1 installed into both tables, uncommitted;
      // only the bands stage is quiet, so the compaction must refuse before
      // it rewrites shingles, whose own stage still reads as live
      val docs = docsOf((1L to 8L).map(i =>
        (i, s"document $i of a small corpus, near duplicate ${i % 3} of its kind", "en", "s")): _*)
      val store = base.resolve("store").toString
      CorpusStream.dedupIngestBatch(store, base.resolve("pairs").toString, 0.8, Int.MaxValue)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      DedupOps.appendLshStoreIdempotent(docs.filter(col("doc_id") % 2 === 1), store, 1L)
      fs.setTimes(IdempotentAppend.stagePath(s"$store/bands", 1L), old, old)
      DedupOps.retireLshStore(docs.select("doc_id").limit(1), store)
      def files(rel: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$rel")).map(_.getPath.getName).toSet
      val before = Seq("shingles", "bands", "tombstones").map(files)
      val e4 = intercept[java.io.IOException] { DedupOps.compactLshStore(spark, store) }
      assert(e4.getMessage.contains("unresolved streaming append"))
      assert(Seq("shingles", "bands", "tombstones").map(files) == before,
        "both store tables and the tombstones untouched")
    } finally deleteTree(base)
  }

  test("dedupIngestBatch: empty bands dir from a mid-install crash does not wedge the replay") {
    import graft.operators.DedupOps
    import graft.streaming.CorpusStream
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val full = DedupOps.minhashLsh(docs, 0.8, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = tempDir("graft_chaos_wedge_")
    try {
      val store = base.resolve("store").toString
      val pairs = base.resolve("pairs").toString
      val sink = CorpusStream.dedupIngestBatch(store, pairs, 0.8, Int.MaxValue) _
      def b(i: Long) = docs.filter(col("doc_id") % 2 === i)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        base.toUri, spark.sparkContext.hadoopConfiguration)
      // crash DURING batch 0's bands install, after mkdirs but before the
      // first rename: bands exists but holds no data file. The old
      // dir-existence bootstrap check would take the incremental path and
      // throw on every replay ("Unable to infer schema") — wedged forever.
      sink(b(0), 0L)
      val bands = new org.apache.hadoop.fs.Path(s"$store/bands")
      fs.listStatus(bands).foreach(s => fs.delete(s.getPath, false))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$store/_graft_batches/0"), false))
      // shingles keeps batch 0's residue — the replay's store-side
      // exclusion must neutralize it, not double-count it
      sink(b(0), 0L)
      sink(b(1), 1L)
      val got = spark.read.parquet(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == full, s"missing=${full -- got} extra=${got -- full}")
      assert(spark.read.parquet(s"$store/bands")
        .groupBy("doc_id", "band_key").count().filter(col("count") > 1).count() == 0)
    } finally deleteTree(base)
  }
}
