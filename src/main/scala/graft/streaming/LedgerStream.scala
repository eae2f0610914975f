package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.sources.IdempotentAppend
import graft.sources.IdempotentAppend.Into

/**
 * Incremental ledger maintenance with Structured Streaming — the streaming
 * re-expression of the reference's batch bookkeeping queries (SURVEY.md §7.4
 * extension; the reference itself is batch-only).
 *
 * All transforms are plain DataFrame lineage over a streaming source
 * (`readStream` parquet/kafka in production, MemoryStream in tests), so the
 * same operator definitions run batch or streaming:
 *
 *  - [[statusCounts]] — running R2 for every status (complete-mode agg;
 *    state = #statuses × #pipelines rows, trivially bounded).
 *  - [[lateArrivals]] — R1's overlap flag as a stream: windows whose start
 *    lies before the watermark horizon when they arrive.
 *  - [[windowedThroughput]] — event-time tumbling-window records_count sums
 *    with a watermark, the streaming analogue of the per-day slices; state
 *    is evicted once the watermark passes the window end, so it holds at
 *    unbounded input.
 */
object LedgerStream {

  /** Running count per (pipeline_name, pipeline_status). */
  def statusCounts(runs: DataFrame): DataFrame =
    runs.groupBy(col("pipeline_name"), col("pipeline_status"))
      .agg(count(lit(1)).as("n"))

  /** Tumbling event-time windows over run starts, watermarked for state GC. */
  def windowedThroughput(runs: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    runs
      .withWatermark("query_window_start_ts", watermark)
      .groupBy(
        window(col("query_window_start_ts"), window_),
        col("pipeline_name"))
      .agg(count(lit(1)).as("runs"), sum(col("records_count")).as("records"))
      .select(
        col("window.start").as("bucket_start"),
        col("pipeline_name"), col("runs"), col("records"))

  /**
   * Deduplicated ledger ingest: drops replayed run records by `record_id`
   * within the watermark horizon (the state Spark keeps is bounded by the
   * watermark — replays older than `watermark` are assumed already
   * persisted). Chain with `.writeStream.foreachBatch(appendBatch(path))`
   * for at-least-once parquet appends that are idempotent under replay.
   */
  def dedupedIngest(runs: DataFrame, watermark: String = "1 hour"): DataFrame =
    runs
      .withWatermark("query_window_start_ts", watermark)
      .dropDuplicatesWithinWatermark("record_id")

  /**
   * foreachBatch sink: append a micro-batch to the day-partitioned ledger,
   * EXACTLY-ONCE under batch replay: one
   * [[graft.sources.IdempotentAppend.runBatch]] call. Its commit marker
   * under `path` (written after the append) skips a replayed batchId
   * outright, and the append stages the batch, then moves its files in
   * under `b<batchId>_` names, wiping a crashed attempt's first — so even a crash BETWEEN append and marker replays to
   * the same final file set instead of duplicating the batch (downstream
   * exact-dedup remains as defense in depth, no longer the only line).
   * Safe against concurrent DML/compaction without taking the writer
   * lease: a rewrite retires only the snapshot files it read, so the
   * `_`-prefixed markers and the files this append commits mid-rewrite
   * are never touched (see [[graft.sources.WriterLease]] scope notes).
   */
  def appendBatch(path: String)(batch: DataFrame, batchId: Long): Unit =
    IdempotentAppend.runBatch(batch.sparkSession, path, batchId)(
      Into(path, "query_window_start_day")(batch))

  /** Minimal event for the stateful sessionizer. */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Per-user session state carried across micro-batches. */
  final case class SessionState(lastTsMicros: Long, sessions: Long)
  /** Emitted per user per batch: total sessions observed so far. */
  final case class UserSessions(user_id: Long, sessions: Long)

  /**
   * Stateful streaming sessionization via `mapGroupsWithState` — the custom-
   * state form of [[graft.operators.EventOps.sessionize]] for unbounded
   * input: per-user state is one (lastTs, sessionCount) pair, updated as
   * micro-batches arrive; a new session opens when the gap to the previous
   * event exceeds `gapMinutes`. State is O(#users), independent of stream
   * length. Run with output mode "update".
   */
  def sessionCountsStateful(events: Dataset[UserEvent], gapMinutes: Int = 30): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60_000_000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[SessionState]) =>
          // exact microseconds (Timestamp.getTime truncates to millis and
          // would diverge from the batch sessionizer's unix_micros compare)
          def micros(t: java.sql.Timestamp): Long =
            t.toInstant.getEpochSecond * 1_000_000L + t.toInstant.getNano / 1000L
          var (last, sessions) = state.getOption
            .map(s => (s.lastTsMicros, s.sessions)).getOrElse((Long.MinValue, 0L))
          evs.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val t = micros(e.ts)
            if (last == Long.MinValue || t - last > gapUs) sessions += 1
            last = t
          }
          state.update(SessionState(last, sessions))
          UserSessions(uid, sessions)
      }
  }

  /** Runs arriving with a start older than `maxDelay` behind the max seen so
    * far in their pipeline — the streaming out-of-order/laggard monitor. */
  def lateArrivals(runs: DataFrame, watermark: String = "30 minutes"): DataFrame =
    runs
      .withWatermark("query_window_start_ts", watermark)
      .groupBy(window(col("query_window_start_ts"), "15 minutes"), col("index_name"))
      .agg(min(col("query_window_start_ts")).as("first_start"),
        max(col("query_window_end_ts")).as("last_end"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_start"), col("index_name"),
        col("first_start"), col("last_end"), col("n"))
}
