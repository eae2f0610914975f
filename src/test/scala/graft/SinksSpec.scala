package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

class SinksSpec extends SparkSpec {

  private def fixture = ledgerOf(
    (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
    (2L, "q", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "completed"))

  test("parquet/csv/json round-trip preserves rows") {
    val tmp = tempDir("graft_sinks").toString
    Seq("parquet", "json", "csv").foreach { fmt =>
      Sinks.write(fixture.select("record_id", "pipeline_name", "pipeline_status"),
        s"$tmp/$fmt", fmt)
      val back = Sinks.read(spark, s"$tmp/$fmt", fmt)
      assert(back.count() == 2, fmt)
      assert(back.filter(col("pipeline_status") === "completed").count() == 1, fmt)
    }
  }

  test("saveAsTable registers a partitioned catalog table") {
    Sinks.saveAsTable(fixture, "graft_sink_table", Seq("query_window_start_day"))
    try {
      assert(spark.table("graft_sink_table").count() == 2)
      assert(spark.catalog.listColumns("graft_sink_table")
        .collect().exists(c => c.name == "query_window_start_day" && c.isPartition))
    } finally spark.sql("DROP TABLE IF EXISTS graft_sink_table")
  }
}
