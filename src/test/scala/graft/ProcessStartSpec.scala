package graft

import java.nio.file.Files
import java.time.{Instant, ZoneOffset}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.engine.QueryEngine
import graft.model.PipelineRun
import graft.streaming.LedgerStream

/** The engine's file metadata starts no operating-system process: without
  * `libhadoop`, Hadoop's stock local filesystem starts `chmod`, `readlink`
  * and `ls` for it, about 120 per streaming micro-batch. JFR's
  * `jdk.ProcessStart` event counts every `ProcessBuilder` start in the JVM
  * while a deduplicating stream appends three micro-batches to a ledger
  * and `QueryEngine` runs one UPDATE and one DELETE on a catalog ledger. */
class ProcessStartSpec extends SparkSpec {

  private def run(id: Long, startSec: Long, status: String): PipelineRun = {
    val s = Instant.ofEpochSecond(startSec)
    val day = java.sql.Date.valueOf(s.atOffset(ZoneOffset.UTC).toLocalDate)
    PipelineRun(id, "p", "idx_0", java.sql.Timestamp.from(s),
      java.sql.Timestamp.from(s.plusSeconds(1800)), day, day, status, Some(10.0))
  }

  /** Commands started while `body` runs, except those of Spark's cleaner
    * for garbage-collected sessions: it deletes a dead session's artifact
    * directory with `rm -rf` whenever the GC finds one, and sessions of
    * other suites in this JVM die at any time. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_proc", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filterNot(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("a streamed append, an UPDATE and a DELETE start no process") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft_proc_guard")
    val engine = new QueryEngine(spark)
    val day0 = 1705312800L // 2024-01-15 10:00 UTC
    val rows = (1L to 6L).map(i => run(i, day0 + (i - 1) * 43200L, "pending"))
    rows.toDF().createOrReplaceTempView("graft_proc_rows")
    val mem = MemoryStream[PipelineRun]
    val append = LedgerStream.appendBatch(root.resolve("sink").toString) _
    val query = LedgerStream.dedupedIngest(mem.toDF()).writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch((df: DataFrame, id: Long) => append(df, id)).start()
    sources.LedgerTables.ensure(spark, "graft_proc_ledger")
    // Spark's executor-metrics probe runs `getconf PAGESIZE` once per JVM,
    // at its first heartbeat: load it now so that only per-operation
    // starts are counted.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    try {
      val cols = rows.toDF().columns.mkString(", ")
      engine.executeDmlQuery(
        s"INSERT INTO graft_proc_ledger ($cols) SELECT $cols FROM graft_proc_rows")
      val started = processStarts {
        // each batch replays the previous one's last record
        for (b <- 0 until 3) {
          mem.addData(rows.slice(math.max(0, 2 * b - 1), 2 * b + 2))
          query.processAllAvailable()
        }
        engine.executeDmlQuery(
          "UPDATE graft_proc_ledger SET pipeline_status = 'completed' WHERE record_id <= 3")
        engine.executeDmlQuery("DELETE FROM graft_proc_ledger WHERE record_id = 6")
      }
      val byProgram = started.groupBy(_.takeWhile(_ != ' ')).map { case (p, cs) => s"$p × ${cs.size}" }
      println(s"process starts: ${started.size} ${byProgram.mkString("(", ", ", ")")}")
      assert(started.size == 0, s"first: ${started.headOption.getOrElse("")}")
      assert(sources.LedgerTables.read(spark, root.resolve("sink").toString).count() == 6L)
      assert(spark.table("graft_proc_ledger").where("pipeline_status = 'completed'").count() == 3L)
      assert(spark.table("graft_proc_ledger").count() == 5L)
    } finally {
      query.stop()
      engine.executeControlCommand("DROP TABLE IF EXISTS graft_proc_ledger")
    }
  }
}
