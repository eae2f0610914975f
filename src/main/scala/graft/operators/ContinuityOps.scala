package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BoundValue

/**
 * Gap / continuity detection over the ledger (SURVEY.md §2.2 O12/O13;
 * reference `snowflake_tasks.py:352-486`).
 */
object ContinuityOps {

  /**
   * R5: discontinuities in one pipeline+index+day slice — pairs
   * `[prev_end, start)` where consecutive windows (ordered by start) don't
   * abut. Note the reference's `!=` (not `<`) also flags *overlapping* or
   * out-of-order windows, not just gaps (`snowflake_tasks.py:403`) — preserved.
   *
   * The window is intentionally unpartitioned (faithful to the reference's
   * `LAG ... OVER (ORDER BY start_ts)`), which means a single-partition
   * WindowExec — safe ONLY because the slice is pre-filtered to one
   * pipeline+index+day before the shuffle. For multi-slice scans at scale use
   * [[discontinuitiesAll]], which partitions the window by the slice keys and
   * keeps the computation fully distributed.
   *
   * The slice also tests `query_window_start_day = D`, which the ledger
   * invariant `query_window_start_day = to_date(query_window_start_ts)`
   * makes redundant for the rows — but it is the test partition pruning can
   * use, so only day D's partition is scanned. The exact `to_date` test
   * stays, so the slice is the same set of rows; its day is a [[BoundValue]],
   * so each call reuses the first call's generated classes.
   */
  def discontinuities(
      ledger: DataFrame,
      pipelineName: String,
      indexName: String,
      dateStr: String): DataFrame = {
    val day = OverlapOps.parseDay(dateStr)
    val slice = ledger.filter(
      col("query_window_start_day") === lit(day) &&
      to_date(col("query_window_start_ts")) === BoundValue.column(day) &&
      col("pipeline_name") === pipelineName &&
      col("index_name") === indexName)
    val w = Window.orderBy(col("query_window_start_ts"), col("record_id"))
    slice
      .select(col("query_window_start_ts"), col("query_window_end_ts"), col("record_id"))
      .withColumn("prev_end_ts", lag(col("query_window_end_ts"), 1).over(w))
      .filter(col("prev_end_ts").isNotNull &&
              col("query_window_start_ts") =!= col("prev_end_ts"))
      .select(
        col("prev_end_ts").as("missing_query_window_start_ts"),
        col("query_window_start_ts").as("missing_query_window_end_ts"))
      .orderBy(col("missing_query_window_start_ts"), col("missing_query_window_end_ts"))
  }

  /**
   * Scale variant: gap detection across ALL (pipeline, index, day) slices in
   * one pass. The window partitions by the slice keys, so state is distributed
   * across executors — no single-partition sort, no driver loop over slices.
   * This is the shape you'd run over a 100 TB ledger.
   */
  def discontinuitiesAll(ledger: DataFrame): DataFrame = {
    val day = to_date(col("query_window_start_ts"))
    val w = Window
      .partitionBy(col("pipeline_name"), col("index_name"), day)
      .orderBy(col("query_window_start_ts"), col("record_id"))
    ledger
      .select(col("pipeline_name"), col("index_name"),
        col("query_window_start_ts"), col("query_window_end_ts"), col("record_id"))
      .withColumn("prev_end_ts", lag(col("query_window_end_ts"), 1).over(w))
      .filter(col("prev_end_ts").isNotNull &&
              col("query_window_start_ts") =!= col("prev_end_ts"))
      .select(
        col("pipeline_name"), col("index_name"),
        col("prev_end_ts").as("missing_query_window_start_ts"),
        col("query_window_start_ts").as("missing_query_window_end_ts"))
  }

  /** O13 wrapper: reference result contract `{"is_continuous": ..., "discontinuities": [...]}`. */
  def continuityReport(
      ledger: DataFrame,
      pipelineName: String,
      indexName: String,
      dateStr: String): (Boolean, Seq[Map[String, String]]) = {
    val gaps = discontinuities(ledger, pipelineName, indexName, dateStr)
      .collect().toIndexedSeq.map(StatusOps.rowAsIsoMap)
    (gaps.isEmpty, gaps)
  }
}
