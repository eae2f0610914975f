package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.LedgerTables

/**
 * Physical-design checks for the 100 TB story: the day-partitioned ledger
 * turns the reference's coarse day-band filter into partition pruning.
 */
class LedgerTablesSpec extends SparkSpec {

  test("day-band filter prunes partitions at planning time") {
    val rows = (0 until 200).map { i =>
      ((i + 1).toLong, "p", "i",
        f"2024-01-${1 + i % 20}%02d 10:00:00", f"2024-01-${1 + i % 20}%02d 11:00:00",
        "completed")
    }
    val tmp = tempDir("graft_ledger").toString
    LedgerTables.write(ledgerOf(rows: _*), tmp)
    val back = LedgerTables.read(spark, tmp)
    val q = back.filter(
      col("query_window_start_day") <= lit(java.sql.Date.valueOf("2024-01-03")) &&
      col("query_window_end_day") >= lit(java.sql.Date.valueOf("2024-01-02")))
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.get
    // 20 day-partitions on disk; the band [.., 03] must plan to read at most 3
    assert(scan.metadata("PartitionFilters").contains("query_window_start_day"),
      s"no partition filter in: ${scan.metadata("PartitionFilters")}")
    val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.length <= 3, s"expected <=3 pruned partitions, got ${selected.length}")
    assert(q.count() == rows.count { case (_, _, _, s, _, _) =>
      val d = s.substring(0, 10)
      d <= "2024-01-03" && d >= "2024-01-02" // end_day == start_day in this fixture
    })
  }

  test("UPDATE/DELETE rewrite only the affected day partitions") {
    import graft.sources.LedgerTables
    val rows = (0 until 60).map { i =>
      ((i + 1).toLong, "p", "i",
        f"2024-01-${1 + i % 6}%02d 10:00:00", f"2024-01-${1 + i % 6}%02d 11:00:00",
        if (i % 2 == 0) "pending" else "completed")
    }
    val tmp = tempDir("graft_upd").toString
    LedgerTables.write(ledgerOf(rows: _*), tmp)
    def partFiles(day: String) =
      new java.io.File(s"$tmp/query_window_start_day=2024-01-$day").listFiles()
        .map(f => f.getName -> f.lastModified).toMap
    val before03 = partFiles("03")
    val before04 = partFiles("04")
    // UPDATE limited to day 03
    val n = LedgerTables.updateWhere(spark, tmp,
      col("pipeline_status") === "pending" &&
        col("query_window_start_day") === lit(java.sql.Date.valueOf("2024-01-03")),
      Seq("pipeline_status" -> lit("in_progress")))
    // day 03 rows have i%6==2, i.e. even i → all 10 are 'pending'
    assert(n == 10, s"rows affected $n")
    val back = LedgerTables.read(spark, tmp)
    assert(back.filter(col("pipeline_status") === "in_progress").count() == 10)
    assert(back.count() == 60)
    assert(partFiles("04") == before04, "untouched partition was rewritten")
    assert(partFiles("03") != before03, "affected partition was not rewritten")
    // DELETE the completed rows of day 04 only
    val d = LedgerTables.deleteWhere(spark, tmp,
      col("pipeline_status") === "completed" &&
        col("query_window_start_day") === lit(java.sql.Date.valueOf("2024-01-04")))
    assert(d == 10) // day 04 rows have odd i → all 'completed'
    assert(LedgerTables.read(spark, tmp).count() == 50)
    // no-op predicate → 0 affected, nothing rewritten
    assert(LedgerTables.updateWhere(spark, tmp,
      col("pipeline_status") === "nope",
      Seq("pipeline_status" -> lit("x"))) == 0L)
  }

  test("DELETE keeps rows where the predicate evaluates to NULL") {
    import graft.sources.LedgerTables
    val tmp = tempDir("graft_delnull").toString
    val base = ledgerOf(
      (1L, "p", "i", "2024-01-05 10:00:00", "2024-01-05 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-05 12:00:00", "2024-01-05 13:00:00", "pending"))
      // record 2 gets a NULL records_count → predicate over it is NULL
      .withColumn("records_count",
        when(col("record_id") === 2L, lit(null)).otherwise(col("records_count")))
    LedgerTables.write(base, tmp)
    val d = LedgerTables.deleteWhere(spark, tmp, col("records_count") > lit(0.5))
    assert(d == 1) // only record 1 positively matches
    val remaining = LedgerTables.read(spark, tmp).select("record_id")
      .collect().map(_.getLong(0)).toSeq
    assert(remaining == Seq(2L), s"NULL-predicate row must survive, got $remaining")
  }

  test("DDL creates a partitioned catalog table idempotently") {
    LedgerTables.ensure(spark, "graft_ledger_ddl")
    LedgerTables.ensure(spark, "graft_ledger_ddl") // IF NOT EXISTS: no throw
    try {
      val cat = spark.catalog.listColumns("graft_ledger_ddl").collect()
      assert(cat.exists(c => c.name == "query_window_start_day" && c.isPartition))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ledger_ddl")
  }
}
