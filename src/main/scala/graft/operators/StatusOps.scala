package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Status-driven scheduling ops over the pipeline-run ledger (SURVEY.md §2.2
 * O8-O11, O17, O19; reference `snowflake_tasks.py:65-350`,
 * `snowflake_query_client.py:118-161`).
 *
 * All entry points are lazy DataFrame transformations; the row/scalar shaping
 * helpers (`headAsIsoMap`) collect only a single already-limited row, mirroring
 * the reference's thin driver edge (`snowflake_tasks.py:213-216`).
 */
object StatusOps {

  /** R2: `COUNT(*) WHERE pipeline_status = :s` (reference `snowflake_tasks.py:95`).
    * Two-phase HashAggregate under the hood — partial counts on executors,
    * single final row; no full shuffle of the data. */
  def countByStatus(ledger: DataFrame, status: String): DataFrame =
    ledger.filter(col("pipeline_status") === status)
      .agg(count(lit(1)).as("row_count"))

  /** Grouped variant of R2: counts for every status in one scan (the
    * reference loops one COUNT query per status — one aggregation replaces
    * the N scans at scale). */
  def countAllStatuses(ledger: DataFrame): DataFrame =
    ledger.groupBy(col("pipeline_status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pipeline_status"))

  private def top1(ledger: DataFrame, status: String, order: Column): DataFrame =
    ledger.filter(col("pipeline_status") === status)
      // Deterministic tie-break on record_id — the reference's bare
      // `ORDER BY query_window_start_ts LIMIT 1` (`snowflake_tasks.py:173-178`)
      // is nondeterministic under equal timestamps (defect #5).
      .orderBy(order, col("record_id").asc)
      .limit(1)

  /** R3: oldest record with a status (reference `snowflake_tasks.py:173-178`).
    * Sort+Limit(1) plans as TakeOrderedAndProject: per-partition top-1 on the
    * executors, merge of 1-row candidates on the driver — O(n) scan, no global
    * sort, no shuffle of the full table. Scales to any ledger size. */
  def oldestByStatus(ledger: DataFrame, status: String): DataFrame =
    top1(ledger, status, col("query_window_start_ts").asc)

  /** R4: latest record with a status (reference `snowflake_tasks.py:279-284`). */
  def latestByStatus(ledger: DataFrame, status: String): DataFrame =
    top1(ledger, status, col("query_window_start_ts").desc)

  /** R7 / V1 capability: scalar MAX with a filter
    * (reference `snowflake_query_client.py:118-161`, docstring "COUNT, MAX, SUM"). */
  def maxEndTs(ledger: DataFrame, pipelineName: String): DataFrame =
    ledger.filter(col("pipeline_name") === pipelineName)
      .agg(max(col("query_window_end_ts")).as("max_end_ts"))

  /**
   * O17/O19: first row as a Map with ISO-8601 timestamps, or None when empty
   * (reference `snowflake_tasks.py:200-216`). Only ever call on a
   * `.limit(1)`-shaped plan.
   */
  def headAsIsoMap(df: DataFrame): Option[Map[String, String]] =
    df.limit(1).collect().headOption.map(rowAsIsoMap)

  /** A collected row as column name → [[isoString]] — the one row shaping
    * every ledger verb's result goes through. */
  def rowAsIsoMap(row: Row): Map[String, String] =
    row.schema.fieldNames.iterator.zipWithIndex
      .map { case (name, i) => name -> isoString(row.get(i)) }.toMap

  /** Collected rows in ascending order of `cols`, nulls first: the order
    * `DataFrame.orderBy(cols)` gives, without the sampling job and range
    * shuffle of a global sort, for results the caller collects anyway.
    * Values compare raw — TIMESTAMP (`java.sql.Timestamp` to the
    * microsecond, or `Instant` under the Java 8 datetime API),
    * TIMESTAMP_NTZ (`LocalDateTime`) and BIGINT (`Long`) —
    * never by their [[isoString]] forms, which put `10:00:00.5Z` before
    * `10:00:00Z`. */
  def sortedRows(rows: Array[Row], cols: String*): IndexedSeq[Row] =
    rows.headOption.fold(IndexedSeq.empty[Row]) { first =>
      val idx = cols.map(first.fieldIndex)
      val byCols: Ordering[Row] = (a, b) =>
        idx.iterator.map(i => compareRaw(a.get(i), b.get(i))).find(_ != 0).getOrElse(0)
      rows.toIndexedSeq.sorted(byCols)
    }

  private def compareRaw(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) => x.compareTo(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"cannot order ${a.getClass.getName} against ${b.getClass.getName}")
  }

  /** A collected value in the reference's ISO-8601 form
    * (`snowflake_tasks.py:213-216`). TIMESTAMP and TIMESTAMP_NTZ columns
    * render alike: an NTZ value is read in UTC, the session zone. An
    * `Instant`, a date (`java.sql.Date`, `LocalDate`) and every other value
    * prints as itself; null stays null. */
  def isoString(v: Any): String = v match {
    case null => null
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case ldt: java.time.LocalDateTime => ldt.toInstant(java.time.ZoneOffset.UTC).toString
    case other => other.toString
  }
}
