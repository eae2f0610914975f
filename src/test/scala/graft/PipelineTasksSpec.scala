package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.api.PipelineTasks
import graft.engine.QueryEngine
import graft.operators.{OverlapOps, StatusOps}

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
    // sub-second and equal-start windows: 11:40:00.5 sorts after 11:40:00
    // by value, but its ISO string ("…00.500Z") sorts before "…00Z"
    val ledger = fixture.unionByName(ledgerOf(
      (5L, "p", "i", day(11, 40) + ".5", day(11, 50), "completed"),
      (6L, "p", "i", day(11, 40), day(11, 45), "completed"),
      (7L, "p", "i", day(11, 40), day(11, 55), "completed")))
    // the fixture view Tables.pipelineRuns reads its windows as
    // timestamp_ntz (events.parquet is not UTC-adjusted)
    val ntz = Seq("query_window_start_ts", "query_window_end_ts")
      .foldLeft(ledger)((df, c) => df.withColumn(c, col(c).cast("timestamp_ntz")))
    def tasksOver(df: DataFrame) = new PipelineTasks(new QueryEngine(spark), () => df)
    def shapes(t: PipelineTasks) = (
      t.getOldestRecordByStatus("pending").value,
      t.getLatestRecordByStatus("completed").value,
      t.getDiscontinuousQueryWindows("p", "i", "2024-01-15").value,
      t.findOverlappingQueryWindows("p", "i", "2024-01-15").value,
      t.findOverlappingRecordsForInput(
        "p", "i", "2024-01-15 08:30:00", "2024-01-15 12:30:00").value)
    val expected = shapes(tasksOver(ledger))
    assert(expected._3._2.nonEmpty && expected._4.nonEmpty) // gaps and pairs reached
    assert(shapes(tasksOver(ntz)) == expected)
    // the Java 8 datetime API collects TIMESTAMP as Instant: same shapes
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try assert(shapes(tasksOver(ledger)) == expected)
    finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
    // both overlap verbs return rows in the DataFrame orderBy's order
    for (df <- Seq(ledger, ntz)) {
      val got = shapes(tasksOver(df))
      def ordered(q: DataFrame, by: String*) =
        q.orderBy(by.map(col): _*).collect().toSeq.map(StatusOps.rowAsIsoMap)
      assert(got._4 == ordered(OverlapOps.findOverlappingQueryWindows(df, "p", "i", "2024-01-15"),
        "source_window_start_ts", "source_window_end_ts",
        "overlaps_with_start_ts", "overlaps_with_end_ts"))
      assert(got._5 == ordered(OverlapOps.findOverlappingRecordsForInput(
        df, "p", "i", "2024-01-15 08:30:00", "2024-01-15 12:30:00"), "record_id"))
    }
    assert(expected._4.map(_("source_window_start_ts")).containsSlice(Seq(
      "2024-01-15T11:40:00Z", "2024-01-15T11:40:00Z", "2024-01-15T11:40:00.500Z")))
  }

  test("overlap verbs read window bounds in the session time zone, not the JVM's") {
    // two windows between 01:00 and 02:30 UTC; read as Los Angeles wall
    // clock the day and input bounds would move 8 h later and miss both
    val early = ledgerOf(
      (1L, "p", "i", day(1), day(2), "completed"),
      (2L, "p", "i", day(1, 30), day(2, 30), "completed"))
    val t = new PipelineTasks(new QueryEngine(spark), () => early)
    val jvmZone = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(t.findOverlappingQueryWindows("p", "i", "2024-01-15").value.length == 2)
      assert(t.findOverlappingRecordsForInput(
        "p", "i", "2024-01-15 01:00:00", "2024-01-15 02:30:00")
        .value.map(_("record_id")) == Seq("1", "2"))
    } finally java.util.TimeZone.setDefault(jvmZone)
  }

  test("createTableIfNotExists is idempotent") {
    tasks.createTableIfNotExists("graft_tasks_ddl")
    tasks.createTableIfNotExists("graft_tasks_ddl")
    try assert(spark.catalog.tableExists("graft_tasks_ddl"))
    finally spark.sql("DROP TABLE IF EXISTS graft_tasks_ddl")
  }
}
