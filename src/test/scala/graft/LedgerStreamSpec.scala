package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.LedgerStream

/** Streaming maintenance driven synchronously through MemoryStream. */
class LedgerStreamSpec extends SparkSpec {
  import LedgerStreamSpec.Run

  private def run(id: Long, p: String, status: String, start: String, mins: Int) = {
    val s = java.sql.Timestamp.valueOf(start)
    Run(id, p, "idx_0", s,
      java.sql.Timestamp.from(s.toInstant.plusSeconds(mins * 60L)), status, 10.0)
  }

  test("statusCounts aggregates incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Run]
    val q = LedgerStream.statusCounts(mem.toDF())
      .writeStream.format("memory").queryName("sc_out").outputMode("complete").start()
    try {
      mem.addData(
        run(1, "click", "pending", "2024-01-15 10:00:00", 30),
        run(2, "click", "pending", "2024-01-15 10:30:00", 30))
      q.processAllAvailable()
      mem.addData(run(3, "click", "completed", "2024-01-15 11:00:00", 30))
      q.processAllAvailable()
      val out = spark.table("sc_out").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(out(("click", "pending")) == 2L)
      assert(out(("click", "completed")) == 1L)
    } finally q.stop()
  }

  test("appendBatch is idempotent under micro-batch replay") {
    import spark.implicits._
    val tmp = tempDir("graft_ab").toString
    def batch(ids: Long*) = ledgerOf(ids.map(i =>
      (i, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "completed")): _*)
    LedgerStream.appendBatch(tmp)(batch(1L, 2L), 0L)
    // a restart between the data commit and the checkpoint commit replays
    // the same batchId — the marker must make the second append a no-op
    LedgerStream.appendBatch(tmp)(batch(1L, 2L), 0L)
    LedgerStream.appendBatch(tmp)(batch(3L), 1L)
    val ids = graft.sources.LedgerTables.read(spark, tmp)
      .select(col("record_id")).as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"replayed batch must not duplicate: $ids")
  }

  test("dedupedIngest drops replayed record_ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Run]
    val q = LedgerStream.dedupedIngest(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("di_out").outputMode("append").start()
    try {
      mem.addData(
        run(1, "click", "pending", "2024-01-15 10:00:00", 30),
        run(2, "click", "pending", "2024-01-15 10:10:00", 30))
      q.processAllAvailable()
      // replay of record 1 (same id) + one genuinely new record
      mem.addData(
        run(1, "click", "pending", "2024-01-15 10:00:00", 30),
        run(3, "click", "completed", "2024-01-15 10:20:00", 30))
      q.processAllAvailable()
      val ids = spark.table("di_out").select("record_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stateful sessionizer carries per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[LedgerStream.UserEvent]
    def ev(u: Long, t: String) = LedgerStream.UserEvent(u, java.sql.Timestamp.valueOf(t))
    val q = LedgerStream.sessionCountsStateful(mem.toDS(), 30)
      .writeStream.format("memory").queryName("ss_out").outputMode("update").start()
    try {
      mem.addData(ev(1, "2024-01-15 10:00:00"), ev(1, "2024-01-15 10:10:00"),
        ev(2, "2024-01-15 09:00:00"))
      q.processAllAvailable()
      // batch 2: user 1 continues within gap, then breaks it; user 2 breaks it
      mem.addData(ev(1, "2024-01-15 10:20:00"), ev(1, "2024-01-15 12:00:00"),
        ev(2, "2024-01-15 11:00:00"))
      q.processAllAvailable()
      val last = spark.table("ss_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      assert(last(1L) == 2L, s"user1 sessions ${last(1L)}") // one session then a >30min gap
      assert(last(2L) == 2L)
    } finally q.stop()
  }

  test("windowedThroughput buckets by event time with watermark state eviction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Run]
    val q = LedgerStream.windowedThroughput(mem.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wt_out").outputMode("complete").start()
    try {
      mem.addData(
        run(1, "click", "completed", "2024-01-15 10:05:00", 10),
        run(2, "click", "completed", "2024-01-15 10:45:00", 10),
        run(3, "click", "completed", "2024-01-15 11:05:00", 10))
      q.processAllAvailable()
      val out = spark.table("wt_out").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(2)).toMap
      assert(out("2024-01-15 10:00:00.0") == 2L)
      assert(out("2024-01-15 11:00:00.0") == 1L)
    } finally q.stop()
  }
}

object LedgerStreamSpec {
  /** Top-level, not nested in the spec instance: Spark's generated
    * deserializer cannot construct an inner class, and would fall back to
    * interpreted evaluation. */
  final case class Run(
      record_id: Long, pipeline_name: String, index_name: String,
      query_window_start_ts: java.sql.Timestamp,
      query_window_end_ts: java.sql.Timestamp,
      pipeline_status: String, records_count: Double)
}
