package graft

import org.apache.spark.sql.functions.col

import graft.api.PipelineTasks
import graft.engine.QueryEngine

/** Reference-parity task API: result contracts of `snowflake_tasks.py`. */
class PipelineTasksSpec extends SparkSpec {

  private def day(h: Int, m: Int = 0) = f"2024-01-15 $h%02d:$m%02d:00"

  private lazy val fixture = ledgerOf(
    (1L, "p", "i", day(8), day(9), "pending"),
    (2L, "p", "i", day(9), day(10), "completed"),
    (3L, "p", "i", day(11), day(12), "completed"),   // gap 10:00-11:00
    (4L, "p", "i", day(11, 30), day(13), "completed")) // overlaps record 3

  private lazy val tasks = new PipelineTasks(new QueryEngine(spark), () => fixture)

  test("count / picks carry query ids and reference result shapes") {
    val c = tasks.countRecordsByPipelineStatus("completed")
    assert(c.value == 3L && c.queryId.nonEmpty)
    val oldest = tasks.getOldestRecordByStatus("pending").value.get
    assert(oldest("record_id") == "1")
    assert(oldest("query_window_start_ts") == "2024-01-15T08:00:00Z")
    assert(tasks.getLatestRecordByStatus("failed").value.isEmpty) // empty branch
  }

  test("continuity report matches the reference dict semantics") {
    val r = tasks.getDiscontinuousQueryWindows("p", "i", "2024-01-15")
    val (continuous, gaps) = r.value
    assert(!continuous)
    // one true gap (10->11) and one overlap flagged by != (12 != 11:30)
    assert(gaps.map(_("missing_query_window_start_ts")) ==
      Seq("2024-01-15T10:00:00Z", "2024-01-15T12:00:00Z"))
  }

  test("overlap queries return ISO-shaped rows") {
    val ov = tasks.findOverlappingQueryWindows("p", "i", "2024-01-15").value
    assert(ov.length == 2) // pair (3,4) both directions
    val forInput = tasks.findOverlappingRecordsForInput(
      "p", "i", "2024-01-15 08:30:00", "2024-01-15 09:30:00").value
    assert(forInput.map(_("record_id")) == Seq("1", "2"))
    // half-open: window ending exactly at 08:00 does not overlap record 1
    assert(tasks.findOverlappingRecordsForInput(
      "p", "i", "2024-01-15 07:00:00", "2024-01-15 08:00:00").value.isEmpty)
  }

  test("timestamp_ntz windows shape exactly like TIMESTAMP windows in every verb") {
    // the fixture view Tables.pipelineRuns reads its windows as
    // timestamp_ntz (events.parquet is not UTC-adjusted)
    val ntz = Seq("query_window_start_ts", "query_window_end_ts")
      .foldLeft(fixture)((df, c) => df.withColumn(c, col(c).cast("timestamp_ntz")))
    val ntzTasks = new PipelineTasks(new QueryEngine(spark), () => ntz)
    def shapes(t: PipelineTasks) = (
      t.getOldestRecordByStatus("pending").value,
      t.getLatestRecordByStatus("completed").value,
      t.getDiscontinuousQueryWindows("p", "i", "2024-01-15").value,
      t.findOverlappingQueryWindows("p", "i", "2024-01-15").value,
      t.findOverlappingRecordsForInput(
        "p", "i", "2024-01-15 08:30:00", "2024-01-15 12:30:00").value)
    val expected = shapes(tasks)
    assert(expected._3._2.nonEmpty && expected._4.nonEmpty) // gaps and pairs reached
    assert(shapes(ntzTasks) == expected)
  }

  test("createTableIfNotExists is idempotent") {
    tasks.createTableIfNotExists("graft_tasks_ddl")
    tasks.createTableIfNotExists("graft_tasks_ddl")
    try assert(spark.catalog.tableExists("graft_tasks_ddl"))
    finally spark.sql("DROP TABLE IF EXISTS graft_tasks_ddl")
  }
}
