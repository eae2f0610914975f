package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.functions._

import graft.sources.LedgerTables
import graft.streaming.LedgerStream

/**
 * The append-vs-DML safety contract (WriterLease scope notes): appenders
 * never take the writer lease, so the DML rewrites must themselves
 * guarantee that rows committed by a concurrent appender are never lost.
 * They do by construction: a rewrite retires only the snapshot files it
 * read, directories never move, and `_`-prefixed metadata (streaming
 * replay markers, an in-flight append's `_temporary` dir) is never
 * touched, whole-table rewrites included.
 */
class ConcurrentAppendDmlSpec extends SparkSpec {

  private def batchOf(ids: Seq[Long], status: String) = ledgerOf(ids.map { i =>
    val day = 15 + (i % 3)
    (i, "p", "i", s"2024-01-$day 10:00:00", s"2024-01-$day 11:00:00", status)
  }: _*)

  private def flipStatuses(path: String, forward: Boolean): Long = {
    val (from, to) =
      if (forward) ("pending", "processing") else ("processing", "pending")
    LedgerTables.updateWhere(spark, path, col("pipeline_status") === from,
      Seq("pipeline_status" -> lit(to)))
  }

  /** Race an at-least-once retrying appender (`batches`×`perBatch` rows
    * from `baseId`) against `rewriters` run on the calling thread, then
    * assert the no-loss contract: every initial row exactly once (they are
    * only ever rewritten under the lease), every appended row present —
    * and exactly once when no mid-commit retry fired (at-least-once is
    * appendBatch's declared contract when one did). */
  private def raceAppender(
      tmp: String, initialIds: Seq[Long],
      baseId: Long, batches: Int, perBatch: Int)(rewriters: => Unit): Unit = {
    val retries = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try {
        for (b <- 0 until batches) {
          val ids = (baseId + b * perBatch) until (baseId + (b + 1) * perBatch)
          // at-least-once, like a streaming foreachBatch sink: a commit
          // that raced a partition swap fails loudly and is retried; the
          // batch marker makes a retry after a SUCCESSFUL commit a no-op
          var done = false
          var attempts = 0
          while (!done) {
            try { LedgerStream.appendBatch(tmp)(batchOf(ids, "appended"), b.toLong); done = true }
            catch { case e: Exception =>
              attempts += 1; retries.incrementAndGet()
              if (attempts > 3) throw e
            }
          }
        }
      } catch { case t: Throwable => failure.set(t) }
    }, "race-appender")
    appender.start()
    rewriters
    appender.join(120000)
    assert(!appender.isAlive, "appender thread hung")
    assert(failure.get() == null, s"appender failed permanently: ${failure.get()}")
    val got = LedgerTables.read(spark, tmp)
      .groupBy(col("record_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    initialIds.foreach(i =>
      assert(got.get(i).contains(1L), s"initial row $i: ${got.get(i)}"))
    (baseId until (baseId + batches.toLong * perBatch)).foreach { i =>
      assert(got.contains(i), s"appended row $i lost")
      if (retries.get() == 0)
        assert(got(i) == 1L, s"appended row $i duplicated: ${got(i)}")
    }
  }

  test("_graft_batches replay markers survive a whole-table DML swap") {
    val tmp = tempDir("graft_mk").toString
    LedgerStream.appendBatch(tmp)(batchOf(Seq(1L, 2L), "pending"), 0L)
    LedgerStream.appendBatch(tmp)(batchOf(Seq(3L), "pending"), 1L)
    // declared partitioning != the ledger day layout → whole-table rewrite
    val n = LedgerTables.updateWhere(spark, tmp, col("record_id") >= 0L,
      Seq("pipeline_status" -> lit("archived")), partitionCols = Seq("pipeline_name"))
    assert(n == 3L)
    // a streaming restart replaying a committed batchId must still no-op:
    // losing the marker here would re-append rows 1 and 2
    LedgerStream.appendBatch(tmp)(batchOf(Seq(1L, 2L), "pending"), 0L)
    val rows = LedgerTables.read(spark, tmp)
      .select(col("record_id"), col("pipeline_status")).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      s"replayed batch after DML must not duplicate: ${rows.mkString(",")}")
    assert(rows.forall(_.getString(1) == "archived"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(tmp, "_graft_batches"))
      .map(_.getPath.getName).toSet
    assert(markers == Set("0", "1"))
  }

  test("concurrent appendBatch during looping DML swaps never loses rows") {
    val tmp = tempDir("graft_cc").toString
    val initialIds = (0L until 30L)
    LedgerTables.write(batchOf(initialIds, "pending"), tmp)
    raceAppender(tmp, initialIds, 1000L, batches = 5, perBatch = 12) {
      // each pass rewrites every partition that holds a matching row (all
      // three days), in directories a concurrent append may just have
      // committed into
      for (i <- 0 until 4) flipStatuses(tmp, forward = i % 2 == 0)
    }
  }

  test("appends survive interleaved DML swaps AND compactions") {
    val tmp = tempDir("graft_cx").toString
    val initialIds = (0L until 30L)
    // fragmented on purpose so every compaction pass has real work
    LedgerTables.write(batchOf(initialIds, "pending").repartition(4), tmp)
    raceAppender(tmp, initialIds, 2000L, batches = 4, perBatch = 10) {
      // rewriters hold the lease against each other; appends run through
      // it all
      for (i <- 0 until 4) {
        if (i % 2 == 0) flipStatuses(tmp, forward = i % 4 == 0)
        else graft.sources.Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
      }
    }
  }
}
