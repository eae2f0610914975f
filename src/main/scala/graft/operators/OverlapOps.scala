package graft.operators

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Interval-overlap queries over the ledger (SURVEY.md §2.2 O4/O5/O14;
 * reference `overlap_checks.py:4-107`, `snowflake_tasks.py:488-584`).
 *
 * Overlap semantics are the reference's, preserved bit-for-bit:
 *  - half-open intersection, strict `<` / `>` — touching windows
 *    (`end == start`) do NOT overlap (`overlap_checks.py:59-60`);
 *  - the self-join hides pairs with identical `query_window_start_ts`
 *    (`t1.start != t2.start`, `snowflake_tasks.py:548`) — a semantic quirk we
 *    keep.
 *
 * Window bounds are wall-clock `LocalDateTime` literals (TIMESTAMP_NTZ),
 * read in the SESSION time zone like the SQL text `TIMESTAMP '…'`: Spark
 * casts them under the session zone against a TIMESTAMP column and compares
 * them as-is against a TIMESTAMP_NTZ one. `java.sql.Timestamp.valueOf`
 * would read them in the JVM's default zone and shift every window by the
 * difference.
 */
object OverlapOps {

  /**
   * R1: all ledger rows whose window overlaps the candidate input window
   * (reference `overlap_checks.py:48-61`).
   *
   * Two-phase filtering exactly as the reference designs it: a coarse,
   * sargable day-band predicate over the denormalized `*_day` columns prunes
   * first (on a day-partitioned ledger this is partition pruning — zero I/O
   * for out-of-band days), then the exact half-open timestamp test runs on the
   * survivors. Invalid ISO input throws IllegalArgumentException at the API
   * edge (mirrors `ValueError`, `overlap_checks.py:44-46`).
   */
  def findOverlappingRecordsForInput(
      ledger: DataFrame,
      pipelineName: String,
      indexName: String,
      startTsIso: String,
      endTsIso: String): DataFrame = {
    val (startTs, endTs) =
      try (LocalDateTime.parse(startTsIso.replace(' ', 'T')),
           LocalDateTime.parse(endTsIso.replace(' ', 'T')))
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"invalid ISO-8601 window: $startTsIso .. $endTsIso", e)
      }
    ledger
      // coarse day band (partition-prunable)
      .filter(col("query_window_start_day") <= lit(endTs.toLocalDate) &&
              col("query_window_end_day") >= lit(startTs.toLocalDate))
      .filter(col("pipeline_name") === pipelineName && col("index_name") === indexName)
      // exact half-open interval intersection
      .filter(col("query_window_start_ts") < lit(endTs) &&
              col("query_window_end_ts") > lit(startTs))
  }

  /**
   * Day-sliced CTE input of the self-join (reference `snowflake_tasks.py:531-538`).
   *
   * Relies on the ledger invariant `query_window_start_day =
   * to_date(query_window_start_ts)` (session zone; [[graft.sources.LedgerTables]]
   * partitions by that column and every writer derives it so): a window with
   * `start_ts < D+1` then has `start_day <= D`, so the partition bound prunes
   * every later day without dropping a row. The exact timestamp predicates
   * stay, so the slice is the same set of rows.
   */
  private def daySlice(ledger: DataFrame, pipelineName: String, indexName: String,
      day: LocalDate): DataFrame =
    ledger.filter(
      col("query_window_start_day") <= lit(day) &&
      col("pipeline_name") === pipelineName &&
      col("index_name") === indexName &&
      col("query_window_start_ts") < lit(day.plusDays(1).atStartOfDay) &&
      col("query_window_end_ts") > lit(day.atStartOfDay))

  /**
   * R6: interval-overlap self theta-join over a one-day slice
   * (reference `snowflake_tasks.py:530-550`).
   *
   * Pure inequality join (no equi-key), planned as a BroadcastNestedLoopJoin
   * with the slice broadcast explicitly: the CTE pre-filter (one pipeline,
   * one index, one day) bounds the build side no matter how big the ledger
   * is, but the planner cannot see that bound — a catalog ledger without
   * statistics is sized at `spark.sql.defaultSizeInBytes`, and the unhinted
   * join plans a CartesianProduct of two full scans. For wide slices use
   * [[overlappingWindowsBanded]].
   */
  def findOverlappingQueryWindows(
      ledger: DataFrame,
      pipelineName: String,
      indexName: String,
      dateStr: String): DataFrame = {
    val f = daySlice(ledger, pipelineName, indexName, LocalDate.parse(dateStr))
    joinOverlaps(f)
  }

  private def joinOverlaps(f: DataFrame): DataFrame = {
    val t1 = f.select(
      col("query_window_start_ts").as("s1"), col("query_window_end_ts").as("e1"))
    val t2 = f.select(
      col("query_window_start_ts").as("s2"), col("query_window_end_ts").as("e2"))
    t1.join(broadcast(t2),
        col("s1") < col("e2") && col("e1") > col("s2") && col("s1") =!= col("s2"))
      .select(
        col("s1").as("source_window_start_ts"),
        col("e1").as("source_window_end_ts"),
        col("s2").as("overlaps_with_start_ts"),
        col("e2").as("overlaps_with_end_ts"))
  }

  /**
   * Scale path for the overlap self-join (SURVEY.md §4.3): rewrite the pure
   * theta-join as a *banded equi-join* — explode each window into the set of
   * fixed-size time buckets it covers, equi-join on the bucket (shuffle
   * hash/sort-merge, fully distributed), then apply the exact interval
   * predicate as a residual filter and de-duplicate pairs that met in more
   * than one bucket.
   *
   * Identical result set to [[findOverlappingQueryWindows]] (property-tested);
   * turns an O(n²) nested loop into an equi-join whose cost is governed by
   * bucket occupancy, which is what survives a 100× scale-up of the slice.
   */
  def overlappingWindowsBanded(
      ledger: DataFrame,
      pipelineName: String,
      indexName: String,
      dateStr: String,
      bucketMinutes: Int = 60): DataFrame = {
    require(bucketMinutes > 0)
    val f = daySlice(ledger, pipelineName, indexName, LocalDate.parse(dateStr))
      .select(col("query_window_start_ts").as("s"), col("query_window_end_ts").as("e"))
    // Buckets covered by [s, e): integer bucket indices floor(µs / bucketµs)
    // over BOTH endpoints — arithmetic on the same grid for every window, so
    // any bucket size is correct (truncating timestamps to a fixed calendar
    // unit while stepping by a different interval would misalign the grids
    // and silently drop pairs). sequence() is inclusive; the residual exact
    // predicate removes false candidates, so inclusiveness only costs a few
    // extra candidate pairs, never correctness.
    val bUs = bucketMinutes * 60_000_000L
    def banded(s: String, e: String) =
      f.select(col("s").as(s"s$s"), col("e").as(s"e$s"),
        // cast: no-op on TIMESTAMP, accepts TIMESTAMP_NTZ sources under
        // the UTC session tz — unix_micros alone rejects NTZ
        explode(sequence(
          expr(s"unix_micros(cast(s as timestamp)) div $bUs"),
          expr(s"unix_micros(cast(e as timestamp)) div $bUs"))).as("bucket"))
    val t1 = banded("1", "1")
    val t2 = banded("2", "2")
    t1.join(t2, Seq("bucket"))
      .filter(col("s1") < col("e2") && col("e1") > col("s2") && col("s1") =!= col("s2"))
      .select(
        col("s1").as("source_window_start_ts"),
        col("e1").as("source_window_end_ts"),
        col("s2").as("overlaps_with_start_ts"),
        col("e2").as("overlaps_with_end_ts"))
      .distinct()
  }

  /**
   * x136: point-in-interval LOOKUP join — each event attributed to the
   * COMPLETED ledger runs whose window contains its timestamp (`sts ≤ ts
   * < ets`, the half-open convention): "which pipeline runs was this
   * event inside" — the enrichment join between the reference's interval
   * domain and the event stream, generalizing the x16 self-join bander to
   * two relations of different shapes (interval side × point side).
   *
   * Scale shape: the interval side explodes into its covered hour buckets
   * (windows are minutes-to-hours — a handful of buckets each, never
   * unbounded); the point side computes its single bucket; the join is an
   * equi-join on the bucket, so candidate pairs are confined to
   * co-bucketed (run, event) combinations and the exact containment test
   * runs on candidates only. Each (run, event) pair meets in EXACTLY one
   * bucket (the event's), so no post-join dedup is needed. Matched-pair
   * volume grows with run density × event density per bucket — the
   * declared output semantics of any interval join (10× both sides ⇒
   * ~100× containments, which the census then reduces).
   */
  def intervalLookupCensus(
      ledger: DataFrame,
      events: DataFrame,
      bucketMinutes: Int = 60): DataFrame = {
    require(bucketMinutes > 0, "bucket width must be positive")
    val bUs = bucketMinutes * 60_000_000L
    val runs = ledger.filter(col("pipeline_status") === "completed")
      .select(col("record_id"), col("pipeline_name"),
        col("query_window_start_ts").cast("timestamp").as("sts"),
        col("query_window_end_ts").cast("timestamp").as("ets"))
      .withColumn("bucket", explode(sequence(
        expr(s"unix_micros(sts) div $bUs"), expr(s"unix_micros(ets) div $bUs"))))
    // DISTRIBUTE BEFORE THE CONTAINMENT PROBE (round 18, the x144 rule):
    // the bucket join fans out (runs-per-bucket × events) candidate pairs
    // from one 16-byte row per event — a work/byte amplification bytes-
    // based partitioning cannot see, so the probe+filter+distinct-partial
    // stage ran at the events SCAN's parallelism (one split at gate scale:
    // a single 1.8 s task while 31 cores idled, labeled event-log profile).
    // The explicit hash exchange on the join key ships the narrow point
    // rows once; at SMJ scale it IS the join's own ENSURE_REQUIREMENTS
    // exchange on `bucket`, so nothing is added where the data is big. N
    // from spark.sql.shuffle.partitions (the conf the cluster sizes);
    // explicit so AQE cannot coalesce the probe back to one task on byte
    // estimates. Hot buckets skew the probe the same way they would skew
    // the SMJ — the census's declared output semantics.
    val parts = events.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val pts = events
      .select(col("event_id"), col("ts").cast("timestamp").as("pts"))
      .withColumn("bucket", expr(s"unix_micros(pts) div $bUs"))
      .repartition(parts, col("bucket"))
    runs.join(pts, Seq("bucket"))
      .filter(col("pts") >= col("sts") && col("pts") < col("ets"))
      .groupBy(col("pipeline_name"))
      .agg(
        count(lit(1)).as("matched_pairs"),
        countDistinct(col("event_id")).as("events_hit"),
        countDistinct(col("record_id")).as("runs_hit"))
      .orderBy(col("pipeline_name"))
  }
}
