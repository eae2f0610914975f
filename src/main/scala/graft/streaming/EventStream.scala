package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event of the streaming sessionizer (the `events` table's key columns). */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

/** Open-session state: first/last event micros + event count. */
case class SessionState(startUs: Long, lastUs: Long, n: Long)

/** A closed session, emitted once the gap (or the watermark) closes it. */
case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)

/**
 * STATEFUL streaming sessionization — the Structured Streaming twin of
 * [[graft.operators.EventOps.sessionize]] (x11), built on
 * `flatMapGroupsWithState` + event-time timeout: the one streaming
 * primitive the watermarked-aggregation operators ([[LedgerStream]]) can't
 * express, because a session's window closes on a DATA-dependent condition
 * (the gap), not a fixed grid.
 *
 * Semantics: state is keyed by user; each micro-batch's events fold into
 * the open session in (ts, event_id) order; an event whose gap from the
 * session's last exceeds `gapMinutes` closes it (emitted downstream) and
 * opens a new one. A session with no successor event closes when the
 * WATERMARK passes `last + gap` (event-time timeout), so idle users emit
 * without waiting for their next click and state stays bounded by the
 * number of concurrently-open sessions — never event history.
 *
 * Correctness contract: exactly the batch operator's session set, PROVIDED
 * events are not late across micro-batches beyond the watermark (the
 * standard streaming caveat; within a micro-batch any order is fine — the
 * fold sorts). The spec pins stream == batch on a multi-batch fixture.
 *
 * At 100 TB-scale ingest: state is (user → 24 bytes); the shuffle is the
 * same user-keyed exchange the batch window uses; timeouts GC state, so
 * the store holds only users active within one gap of the watermark.
 */
object EventStream {

  /** Shuffle-partition pin for the STATEFUL stream gates. Every stateful
    * operator commits one state-store instance PER SHUFFLE PARTITION per
    * micro-batch (delta file + metadata), so a gate census holding a few
    * thousand state rows under the session's 32 partitions paid 32 store
    * commits (and 32 store reloads per restart) per batch for ~100 rows
    * of state each — measured at ~20 % of the whole bench suite
    * (VERDICT r12). Production sizes state partitioning to state VOLUME;
    * these gates pin the gate-appropriate constant. Correctness is
    * partitioning-independent (exact keyed aggregations; the gates stay
    * oracle-gated). */
  private[streaming] val StreamShufflePartitions = 4

  /** A CHILD session (shared SparkContext, own SessionState) carrying the
    * stream-gate shuffle pin. A child, not a session-conf mutation: the
    * verify harness runs queries CONCURRENTLY in one session, so setting
    * and restoring `spark.sql.shuffle.partitions` around a stream would
    * race with batch queries planning in parallel. The stream runs
    * entirely in the child; results return on the PARENT session. */
  private[graft] def streamSession(
      parent: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    // State-store provider stays the default (HDFSBackedStateStore):
    // RocksDB was evaluated here (round 13, the verdict's named
    // candidate) and measured 4–18 % SLOWER on these gates (x127
    // 3.32→3.93 s, x146 3.44→3.57, x154 6.05→6.35) — its native setup
    // and per-commit SST churn only pay off when state outgrows the
    // executor heap, and gate state is a few thousand rows. At 100 TB a
    // production stream with multi-GB state would flip the provider; the
    // pin below is what actually moved the gates (32→4 store instances).
    val ss = parent.newSession()
    // newSession() builds the child's SQLConf from the SparkContext conf
    // only — runtime session confs set on the parent (precedent:
    // Tables.read sets spark.sql.legacy.parquet.nanosAsLong via
    // spark.conf.set) would silently drop in the stream gates. Copy the
    // parent's modifiable runtime overrides BEFORE pinning, so the pin
    // wins over a parent-side shuffle-partition setting (round-13 ADVICE;
    // nothing diverges today — stream plans read no source parquet — but
    // the divergence class is closed rather than documented away).
    parent.conf.getAll.foreach { case (k, v) =>
      if (ss.sessionState.conf.isModifiable(k) && !ss.conf.getOption(k).contains(v))
        try ss.conf.set(k, v)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    ss.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    ss
  }

  /**
   * x127: the driver-gated REPLAY harness for [[sessionize]] — the events
   * relation replayed as `nBatches` TIME-CONTIGUOUS micro-batches (the
   * (ts, event_id)-sorted log cut into equal slices, exactly how a real
   * ingest delivers a day's events after the previous day's), fed through
   * a real MemoryStream + flatMapGroupsWithState query, flushed with one
   * far-future sentinel event (the watermark passes every open session's
   * `last + gap`, firing the event-time timeouts), then aggregated to
   * exactly the x11 batch census (user_id, sessions, max_events) — gated
   * against x11's ORACLE, so the streaming path must reproduce the batch
   * operator row-for-row, not approximately.
   *
   * Batches must be time-contiguous because the state fold is ORDER-
   * SENSITIVE across batches: an already-closed session cannot be
   * retroactively split by an earlier-timestamped event arriving later
   * (the documented streaming caveat — within a batch any order is fine,
   * the fold sorts; across batches time must advance). Slice boundaries
   * landing mid-session are exactly the continuity case the gate exists
   * to prove. The watermark delay is still sized past the corpus span so
   * a tie straddling a slice boundary is never LATE.
   *
   * The driver-side collect is the replay harness's bounded gate-scale
   * concession (same pattern as the x102/x106 batch-call twins): a
   * production stream reads a real source; what this gate proves is the
   * STATE MACHINE — batch-boundary session splits, out-of-order fold,
   * timeout flush — not the transport. Transport + checkpoint recovery
   * are proven separately by [[fileStreamRecoveryCensus]] (x154): real
   * file source, real file sink, mid-stream restart.
   */
  def sessionCensusReplay(
      events: org.apache.spark.sql.DataFrame,
      gapMinutes: Int = 30,
      nBatches: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val spark = events.sparkSession
    import spark.implicits._
    // the stream runs in the pinned child session (see streamSession);
    // events are collected on the parent, the census returns on the parent
    val ss = streamSession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val evs = events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"))
      .as[SessionEvent].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    require(evs.nonEmpty, "replay needs at least one event")
    val maxMs = evs.last.ts.getTime
    // sentinel 100 days out vs a 40-day watermark delay: watermark lands
    // 60 days past the last real event — far beyond any last + gap
    val sentinel = SessionEvent(-1L,
      new java.sql.Timestamp(maxMs + 100L * 86400_000L), -1L)
    val mem = MemoryStream[SessionEvent]
    val sink = "graft_sess_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessionize(mem.toDS(), gapMinutes, watermark = "40 days")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val per = (evs.length + nBatches - 1) / nBatches
      evs.grouped(math.max(per, 1)).foreach { slice =>
        mem.addData(slice.toIndexedSeq)
        q.processAllAvailable()
      }
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    // memory-sink contents survive stop(); the sentinel's own session is
    // still open (nothing flushed it) so filtering it is belt-and-braces.
    // The census is MATERIALIZED (bounded: one row per user) and the
    // UUID-named sink view dropped — otherwise every replay invocation
    // would leak its full result set into the session catalog for the
    // SparkSession's lifetime, and the returned frame would silently
    // depend on the undropped view.
    materializeAndDrop(spark, ss, sink,
      ss.table(sink).filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("sessions"), max(col("n_events")).as("max_events"))
        .orderBy(col("user_id")))
  }

  /** Collect a BOUNDED replay census, drop the memory-sink temp view (it
    * lives in the stream's child session), and re-wrap the rows as a
    * local DataFrame ON THE PARENT session — the result must not outlive
    * the view or the child it was computed from. */
  private def materializeAndDrop(
      parent: org.apache.spark.sql.SparkSession,
      streamSess: org.apache.spark.sql.SparkSession,
      sink: String,
      result: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val schema = result.schema
    val rows = result.collect()
    streamSess.catalog.dropTempView(sink)
    parent.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Event for the windowed-aggregation replay gate (x146). */
  private[streaming] case class TimedEvent(
      ts: java.sql.Timestamp, event_type: String, event_id: Long)

  /**
   * x146: driver gate for WATERMARKED WINDOW AGGREGATION — the other
   * stateful-streaming primitive ([[sessionize]] covers data-dependent
   * windows; this covers the fixed tumbling grid). The events relation is
   * replayed as micro-batches through `withWatermark + window("1 day")`
   * in APPEND mode — a window only emits once the watermark passes its
   * end, so the sentinel flush proves the finalization path, multi-batch
   * accumulation proves the state path — and the finalized windows must
   * equal the batch daily census exactly. Unlike the sessionizer, the
   * watermarked aggregation tolerates cross-batch disorder up to the
   * delay, which the 40-day delay makes total here; the x127 ordering
   * caveat does not apply.
   */
  def dailyWindowCensusReplay(
      events: org.apache.spark.sql.DataFrame,
      nBatches: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val spark = events.sparkSession
    import spark.implicits._
    // stream in the pinned child session (see streamSession)
    val ss = streamSession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val evs = events
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("event_id"))
      .as[TimedEvent].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    require(evs.nonEmpty, "replay needs at least one event")
    val sentinel = TimedEvent(
      new java.sql.Timestamp(evs.last.ts.getTime + 100L * 86400_000L),
      "__sentinel", -1L)
    val mem = MemoryStream[TimedEvent]
    val sink = "graft_win_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = mem.toDS()
      .withWatermark("ts", "40 days")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val per = (evs.length + nBatches - 1) / nBatches
      evs.grouped(math.max(per, 1)).foreach { slice =>
        mem.addData(slice.toIndexedSeq)
        q.processAllAvailable()
      }
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    materializeAndDrop(spark, ss, sink,
      ss.table(sink).filter(col("event_type") =!= "__sentinel")
        .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
        .orderBy(col("day"), col("event_type")))
  }

  /**
   * x154: REAL-TRANSPORT streaming with CHECKPOINT RECOVERY — the gate
   * that retires the replay harnesses' documented "state machine only"
   * caveat ([[dailyWindowCensusReplay]] et al. prove the stateful
   * operators over a MemoryStream; this proves the transport). The events
   * relation is spooled to real parquet files in time-contiguous slices;
   * a FILE-SOURCE stream (maxFilesPerTrigger=1, so every slice is its own
   * micro-batch with its own offset commit) runs the same watermarked
   * daily-window aggregation in append mode into a FILE SINK with a
   * checkpoint; the query is STOPPED and RESTARTED after every
   * `stopAfter` slices (a fresh `start()` per group, same checkpoint +
   * sink — with the default 4/2, three incarnations and two restarts,
   * the last immediately before the sentinel's flush batch) — watermark
   * delay 1 day < the corpus span, so already-finalized windows are
   * committed to the sink BEFORE a stop. Each resumed incarnation picks
   * up source offsets from the offset log, window partials from the
   * state store, and sink continuation from the file-sink commit log;
   * the drained sink, read back as a batch relation through its
   * `_spark_metadata` commit log, must equal the batch daily census
   * EXACTLY — counts can only be right if every incarnation's state
   * recovered (else earlier slices' events vanish) and no committed
   * output duplicated (else finalized windows double).
   *
   * Slices are fed ONE AT A TIME (move file → processAllAvailable) in
   * time order: the 1-day watermark is real here, so an out-of-order
   * slice would legitimately drop its events as late — transport order
   * is part of the contract being proven, exactly as a dated ingest
   * directory delivers a day at a time.
   *
   * At 100 TB: this IS the production shape — a watched ingest directory,
   * a checkpointed query surviving restarts, an exactly-once file sink —
   * demonstrated at gate scale with the same code path
   * (`readStream.parquet → withWatermark.groupBy(window) →
   * writeStream.parquet`), no Memory* anywhere.
   */
  def fileStreamRecoveryCensus(
      events: org.apache.spark.sql.DataFrame,
      nFiles: Int = 4,
      stopAfter: Int = 2): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(nFiles >= 2 && stopAfter >= 1 && stopAfter < nFiles,
      s"need 1 <= stopAfter < nFiles, got $stopAfter/$nFiles")
    val spark = events.sparkSession
    val base = java.nio.file.Files.createTempDirectory("graft_x154_")
    val pending = java.nio.file.Files.createDirectory(base.resolve("pending"))
    val srcDir = java.nio.file.Files.createDirectory(base.resolve("src"))
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    try {
      val evs = events.select(
        col("ts").cast("timestamp").as("ts"), col("event_type"), col("event_id"))
      // gate-scale fixture prep: a global ntile over (ts, event_id) cuts
      // the log into time-contiguous slices — exactly how a dated ingest
      // directory delivers a day after the previous day. Materialized
      // once so the nFiles+1 spools don't each re-run the global sort
      // (A/B-measured a modest ~0.1–0.3 s at sf0.1 — the gate's cost is
      // the three streaming incarnations + checkpoint IO, not the
      // spool — but fixture prep should still not repeat work).
      val sliced = evs.withColumn("slice",
        ntile(nFiles).over(Window.orderBy(col("ts"), col("event_id"))))
        .localCheckpoint()
      def spoolOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val stage = base.resolve("stage_" + name)
        df.coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
          .write.parquet(stage.toString)
        val listing = java.nio.file.Files.list(stage)
        val part = try listing.filter(p =>
          p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
        java.nio.file.Files.move(part, pending.resolve(name + ".parquet"))
      }
      (1 to nFiles).foreach(i => spoolOne(
        sliced.filter(col("slice") === i).drop("slice"), f"f$i%02d"))
      val maxTs = evs.agg(max(col("ts"))).head().getTimestamp(0)
      spoolOne(
        spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(
            new java.sql.Timestamp(maxTs.getTime + 100L * 86400_000L),
            "__sentinel", -1L)), evs.schema),
        f"f${nFiles + 1}%02d_sentinel")

      val schema = evs.schema
      // the stream (and its state-store partitioning, fixed at first
      // start for the checkpoint's lifetime) runs in the pinned child
      // session; the spool prep above and the sink read-back below stay
      // on the parent
      val ss = streamSession(spark)
      def startQuery(): org.apache.spark.sql.streaming.StreamingQuery =
        ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString)
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
      def feed(q: org.apache.spark.sql.streaming.StreamingQuery, name: String): Unit = {
        java.nio.file.Files.move(pending.resolve(name + ".parquet"),
          srcDir.resolve(name + ".parquet"))
        q.processAllAvailable()
      }
      // The query is stopped and RESTARTED after every `stopAfter` slices
      // (a fresh incarnation per group, same checkpoint): with the default
      // 4/2 that is THREE incarnations — one restart mid-accumulation and
      // one immediately before the sentinel's watermark flush, so recovery
      // is proven both for in-flight window partials and for the
      // finalization batch itself.
      val names = (1 to nFiles).map(i => f"f$i%02d") :+ f"f${nFiles + 1}%02d_sentinel"
      names.grouped(stopAfter).foreach { group =>
        val q = startQuery()
        try group.foreach(feed(q, _))
        finally q.stop()
      }

      val result = spark.read.parquet(outDir)
        .filter(col("event_type") =!= "__sentinel")
        .select(col("w.start").cast("date").as("day"), col("event_type"), col("n"))
        .orderBy(col("day"), col("event_type"))
      // materialize before the spool/sink/checkpoint tree is deleted
      val rows = result.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch {
          case _: java.io.IOException => })
    }
  }

  def sessionize(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60_000_000L

    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1_000_000) / 1000

    def tsOf(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(micros / 1000)
      t.setNanos(((micros % 1_000_000) * 1000).toInt)
      t
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, tsOf(s.startUs), s.n))
          } else {
            val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.event_id))
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            for (e <- sorted) {
              val t = us(e.ts)
              cur match {
                case Some(s) if t - s.lastUs > gapUs =>
                  closed += ClosedSession(uid, tsOf(s.startUs), s.n)
                  cur = Some(SessionState(t, t, 1L))
                case Some(s) =>
                  cur = Some(SessionState(s.startUs, math.max(s.lastUs, t), s.n + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1L))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                // ms precision is what the state store's timeout clock has;
                // rounding up keeps "timeout strictly after last + gap"
                state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000 + 1)
              case None => // no events and no prior state: nothing to do
            }
            closed.result().iterator
          }
        })
  }
}
