package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Source-table access + the `pipeline_runs` fixture view (FIXTURES.md).
 *
 * All reads are plain DataSource-V2 parquet scans so Catalyst predicate
 * pushdown / column pruning apply. Table paths follow the driver layout
 * `<sfDir>/<table>.parquet` (TESTDATA.md).
 */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // The driver's `events.parquet` carries TIMESTAMP(NANOS), which Spark's
    // vectorized reader rejects; read nanos as long and truncate to micros
    // (exactly DuckDB's ns→µs conversion, keeping oracle parity).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/$table.parquet")
    raw.schema.fields.foldLeft(raw) {
      case (df, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case (df, _) => df
    }
  }

  /**
   * The reference ledger fixture, derived deterministically from `events`
   * (FIXTURES.md §pipeline_runs; schema evidence in SURVEY.md §1.1).
   *
   * Pure column expressions — no UDFs — so the whole derivation stays inside
   * whole-stage codegen and filters on derived columns still prune the
   * underlying `events` scan where Catalyst can rewrite them.
   */
  def pipelineRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val events = read(spark, sfDir, "events")
    val endTs = expr("ts + make_interval(0, 0, 0, 0, 0, cast(1 + event_id % 180 as int), 0)")
    events.select(
      col("event_id").as("record_id"),
      col("event_type").as("pipeline_name"),
      concat(lit("idx_"), (col("user_id") % 5).cast("string")).as("index_name"),
      col("ts").as("query_window_start_ts"),
      endTs.as("query_window_end_ts"),
      to_date(col("ts")).as("query_window_start_day"),
      to_date(endTs).as("query_window_end_day"),
      element_at(
        array(lit("pending"), lit("in_progress"), lit("completed"), lit("failed")),
        (col("event_id") % 4).cast("int") + 1
      ).as("pipeline_status"),
      col("value").as("records_count")
    )
  }

  /**
   * DuckDB-side equivalent of [[pipelineRuns]], inlined as a CTE so every
   * oracle SQL entry is self-contained over the driver's raw parquet tables.
   */
  val pipelineRunsCte: String =
    """WITH pipeline_runs AS (
      |  SELECT
      |    event_id                                        AS record_id,
      |    event_type                                      AS pipeline_name,
      |    'idx_' || CAST(user_id % 5 AS VARCHAR)          AS index_name,
      |    ts                                              AS query_window_start_ts,
      |    ts + (1 + event_id % 180) * INTERVAL 1 MINUTE   AS query_window_end_ts,
      |    CAST(ts AS DATE)                                AS query_window_start_day,
      |    CAST(ts + (1 + event_id % 180) * INTERVAL 1 MINUTE AS DATE) AS query_window_end_day,
      |    ['pending','in_progress','completed','failed'][1 + event_id % 4] AS pipeline_status,
      |    value                                           AS records_count
      |  FROM events
      |)""".stripMargin
}
