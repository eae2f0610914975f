package graft.api

import org.apache.spark.sql.DataFrame

import graft.engine.{QueryEngine, QueryLog}
import graft.operators.{ContinuityOps, OverlapOps, StatusOps}
import graft.sources.LedgerTables

/**
 * Drop-in task API with the reference's entry points and result contracts —
 * a user of the reference switches to these calls one-for-one:
 *
 *  - `createTableIfNotExists`        (reference `snowflake_tasks.py:9-62`)
 *  - `countRecordsByPipelineStatus`  (`:65-138`)
 *  - `getOldestRecordByStatus`       (`:140-244`)
 *  - `getLatestRecordByStatus`       (`:246-350`)
 *  - `getDiscontinuousQueryWindows`  (`:352-486`)
 *  - `findOverlappingQueryWindows`   (`:488-584`)
 *  - `findOverlappingRecordsForInput` (`overlap_checks.py:4-107`)
 *
 * Each result carries the engine `queryId` (the reference returns the
 * Snowflake `sfqid`) and mirrors the reference's shaped dict: `record:
 * Option[...]` for the top-1 picks (None on the empty branch,
 * `snowflake_tasks.py:200-211`), `isContinuous` + gap list for the
 * continuity check (`:431-446`), timestamps ISO-8601-formatted (`:213-216`).
 * Every call emits the reference's structured start/complete/failure log
 * blocks (`utils/log_utils.py`).
 */
final class PipelineTasks(engine: QueryEngine, ledger: () => DataFrame) {

  /** Result wrapper mirroring the reference's `{"query_id": ..., ...}` dicts. */
  final case class TaskResult[T](queryId: String, value: T)

  private def traced[T](key: String, ctx: (String, Any)*)(body: => T): TaskResult[T] = {
    QueryLog.start(key, ctx: _*)
    try {
      val r = engine.withQueryId(key)(body)
      QueryLog.complete(key, (ctx :+ ("query_id" -> r.queryId)): _*)
      TaskResult(r.queryId, r.data)
    } catch {
      case e: Throwable => QueryLog.failure(key, e, ctx: _*); throw e
    }
  }

  def createTableIfNotExists(table: String): TaskResult[Unit] =
    traced("CREATE_TABLE_IF_NOT_EXISTS", "table" -> table) {
      LedgerTables.ensure(engine.spark, table)
    }

  def countRecordsByPipelineStatus(status: String): TaskResult[Long] =
    traced(s"COUNT_${status.toUpperCase}", "status" -> status) {
      StatusOps.countByStatus(ledger(), status).collect().head.getLong(0)
    }

  def getOldestRecordByStatus(status: String): TaskResult[Option[Map[String, String]]] =
    traced(s"PICK_OLDEST_${status.toUpperCase}", "status" -> status) {
      StatusOps.headAsIsoMap(StatusOps.oldestByStatus(ledger(), status))
    }

  def getLatestRecordByStatus(status: String): TaskResult[Option[Map[String, String]]] =
    traced(s"PICK_LATEST_${status.toUpperCase}", "status" -> status) {
      StatusOps.headAsIsoMap(StatusOps.latestByStatus(ledger(), status))
    }

  /** Returns (isContinuous, gap list) exactly as the reference's dict. */
  def getDiscontinuousQueryWindows(pipelineName: String, indexName: String,
      dateStr: String): TaskResult[(Boolean, Seq[Map[String, String]])] =
    traced("CHECK_QUERY_WINDOW_CONTINUITY",
        "pipeline" -> pipelineName, "index" -> indexName, "date" -> dateStr) {
      ContinuityOps.continuityReport(ledger(), pipelineName, indexName, dateStr)
    }

  def findOverlappingQueryWindows(pipelineName: String, indexName: String,
      dateStr: String): TaskResult[Seq[Map[String, String]]] =
    traced("FIND_OVERLAPPING_QUERY_WINDOWS",
        "pipeline" -> pipelineName, "index" -> indexName, "date" -> dateStr) {
      StatusOps.sortedRows(
        OverlapOps.findOverlappingQueryWindows(ledger(), pipelineName, indexName, dateStr)
          .collect(),
        "source_window_start_ts", "source_window_end_ts",
        "overlaps_with_start_ts", "overlaps_with_end_ts")
        .map(StatusOps.rowAsIsoMap)
    }

  def findOverlappingRecordsForInput(pipelineName: String, indexName: String,
      startTsIso: String, endTsIso: String): TaskResult[Seq[Map[String, String]]] =
    traced("CHECK_OVERLAP_FOR_INPUT",
        "pipeline" -> pipelineName, "index" -> indexName,
        "window" -> s"[$startTsIso, $endTsIso)") {
      StatusOps.sortedRows(
        OverlapOps.findOverlappingRecordsForInput(
          ledger(), pipelineName, indexName, startTsIso, endTsIso).collect(),
        "record_id")
        .map(StatusOps.rowAsIsoMap)
    }
}
