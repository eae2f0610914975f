package graft.model

import org.apache.spark.sql.types._

/**
 * Data model of the pipeline-run ledger (SURVEY.md §1.1).
 *
 * The reference never declares the schema in DDL (the caller passes it in,
 * reference `snowflake_tasks.py:9-14`); the query texts pin it down exactly
 * (`overlap_checks.py:52-60`, `snowflake_tasks.py:388-403,533-548`). We make it
 * explicit: a [[StructType]] for DataFrame reads and a case class for typed
 * Dataset use.
 */
object Schemas {

  /** Status enum values, reference `snowflake_tasks.py:150,158,264` docstrings. */
  object PipelineStatus {
    val Pending = "pending"
    val InProgress = "in_progress"
    val Completed = "completed"
    val Failed = "failed"
    val all: Seq[String] = Seq(Pending, InProgress, Completed, Failed)
  }

  /**
   * Core ledger columns. `query_window_start_day`/`end_day` are denormalized
   * day-granularity copies of the `*_ts` columns kept for coarse pruning
   * (reference `overlap_checks.py:52-53`); in our engine the physical ledger is
   * additionally partitioned by `query_window_start_day` so the coarse band
   * filter becomes partition pruning at 100 TB scale.
   */
  val pipelineRunSchema: StructType = StructType(Seq(
    StructField("record_id", LongType, nullable = false),
    StructField("pipeline_name", StringType, nullable = false),
    StructField("index_name", StringType, nullable = false),
    StructField("query_window_start_ts", TimestampType, nullable = false),
    StructField("query_window_end_ts", TimestampType, nullable = false),
    StructField("query_window_start_day", DateType, nullable = false),
    StructField("query_window_end_day", DateType, nullable = false),
    StructField("pipeline_status", StringType, nullable = false),
    StructField("records_count", DoubleType, nullable = true)
  ))
}

/** Typed row of the ledger (open tail dropped; use DataFrame for SELECT *). */
final case class PipelineRun(
    record_id: Long,
    pipeline_name: String,
    index_name: String,
    query_window_start_ts: java.sql.Timestamp,
    query_window_end_ts: java.sql.Timestamp,
    query_window_start_day: java.sql.Date,
    query_window_end_day: java.sql.Date,
    pipeline_status: String,
    records_count: Option[Double]
)
