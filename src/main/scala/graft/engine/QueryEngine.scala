package graft.engine

import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NamedParameter, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.sources.LedgerTables

/**
 * Execution-client facade — the Spark re-expression of the reference's five
 * public verbs (SURVEY.md §2.1, reference `snowflake_utils/
 * snowflake_query_client.py:118-336`):
 *
 *  - V1 `executeScalarQuery`      — scalar result (COUNT/MAX/SUM)
 *  - V2 `fetchAllRowsAsDataFrame` — full result as a DataFrame
 *  - V3 `fetchAllRowsAsTuples`    — driver-side Array[Row]
 *  - V4 `executeDmlQuery`         — INSERT/…, returns rows affected
 *  - V5 `executeControlCommand`   — DDL / control, no rows
 *
 * Each call returns the result together with a `queryId` (the analogue of the
 * Snowflake `sfqid`, reference `snowflake_query_client.py:154,200,245,287,331`).
 * The id is also installed as the Spark job group so Spark-UI jobs correlate
 * with engine calls.
 *
 * Named parameter binding (`%(name)s` in the reference, e.g.
 * `overlap_checks.py:52-55`) maps to Spark named parameterized SQL
 * (`spark.sql(text, args)`), which also closes the reference's SQL-injection
 * defect (`snowflake_tasks.py:525-537` interpolates a raw string). UPDATE
 * and DELETE bind the same way: each `:name` becomes the literal
 * `spark.sql(text, args)` binds, never SQL text.
 */
final class QueryEngine(val spark: SparkSession) {

  /** Result wrapper mirroring the reference's `{"query_id": ..., "data": ...}`. */
  final case class EngineResult[T](queryId: String, data: T)

  private[graft] def withQueryId[T](desc: String)(body: => T): EngineResult[T] = {
    val queryId = UUID.randomUUID().toString
    spark.sparkContext.setJobGroup(queryId, desc, interruptOnCancel = true)
    try EngineResult(queryId, body)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Per-call `USE DATABASE/SCHEMA` scoping (reference verb V7). Name
    * resolution happens eagerly inside the body (analysis), so the previous
    * database can be restored immediately after — the scope really is
    * per-call, it does not leak into subsequent calls. */
  private def inDatabase[T](database: Option[String])(body: => T): T = {
    val prev = database.map(_ => spark.catalog.currentDatabase)
    database.foreach(spark.catalog.setCurrentDatabase)
    try body
    finally prev.foreach(spark.catalog.setCurrentDatabase)
  }

  private def run(sql: String, params: Map[String, Any], database: Option[String]): DataFrame =
    inDatabase(database) { if (params.isEmpty) spark.sql(sql) else spark.sql(sql, params) }

  /** V1: run SQL, return the single scalar of the first row (or None if empty). */
  def executeScalarQuery(
      sql: String,
      params: Map[String, Any] = Map.empty,
      database: Option[String] = None): EngineResult[Option[Any]] =
    withQueryId(s"scalar: ${sql.take(120)}") {
      run(sql, params, database).limit(1).collect().headOption.map(_.get(0))
    }

  /** V2: run SQL, return the (lazy) DataFrame — caller decides when to collect. */
  def fetchAllRowsAsDataFrame(
      sql: String,
      params: Map[String, Any] = Map.empty,
      database: Option[String] = None): EngineResult[DataFrame] =
    withQueryId(s"fetch_df: ${sql.take(120)}") { run(sql, params, database) }

  /** V3: run SQL, materialize on the driver as rows (reference `fetchall`). */
  def fetchAllRowsAsTuples(
      sql: String,
      params: Map[String, Any] = Map.empty,
      database: Option[String] = None): EngineResult[Array[Row]] =
    withQueryId(s"fetch_rows: ${sql.take(120)}") { run(sql, params, database).collect() }

  /**
   * V4: DML, returning rows affected. The reference's `execute_dml_query`
   * accepts INSERT/UPDATE/DELETE strings
   * (`snowflake_query_client.py:254-294`); here:
   *
   *  - INSERT (and any other Spark-native DML) runs through `spark.sql`;
   *    the affected count is the write command's `numOutputRows` SQL metric
   *    (commands execute eagerly inside `spark.sql`, so the metric is read
   *    synchronously off the executed command plan — SURVEY.md §4.3).
   *  - UPDATE / DELETE are parsed by Spark's SQL parser and dispatched to the
   *    partition-rewrite implementations ([[graft.sources.LedgerTables]]),
   *    because plain parquet cannot execute `spark.sql("UPDATE …")`. The
   *    target may be a catalog table (its location is resolved and, after
   *    the rewrite, the table is refreshed), `parquet.`path`` or one
   *    backquoted absolute path; a table alias is rejected. Named
   *    parameters (`:name`) bind to the literals `spark.sql(text, args)` binds.
   */
  def executeDmlQuery(
      sql: String,
      params: Map[String, Any] = Map.empty,
      database: Option[String] = None): EngineResult[Long] =
    withQueryId(s"dml: ${sql.take(120)}") {
      // Spark substitutes some parameter markers (`DECIMAL(:p, 2)`) before it
      // parses, so a statement only `spark.sql(text, args)` reads goes there.
      Try(spark.sessionState.sqlParser.parsePlan(sql)).toOption match {
        case Some(dml @ (_: UpdateTable | _: DeleteFromTable)) =>
          rewriteDml(bind(dml, params), database)
        case _ =>
          val df = run(sql, params, database)
          df.collect()
          val root = df.queryExecution.executedPlan match {
            case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
            case p => p
          }
          root.metrics.get("numOutputRows").map(_.value)
            .orElse(root.collect {
              case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
            }.headOption)
            .getOrElse(-1L)
      }
    }

  /** The one `:name` binding site of the UPDATE/DELETE path: each
    * `NamedParameter`, in subqueries too, becomes `lit(value)`, the literal
    * `spark.sql(text, args)` binds. An unbound name fails here with Spark's
    * own error, even when no row would match. */
  private def bind(plan: LogicalPlan, params: Map[String, Any]): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case NamedParameter(name) => params.get(name) match {
        case Some(v) => ColumnBridge.expression(lit(v))
        case None => throw new AnalysisException("UNBOUND_SQL_PARAMETER", Map("name" -> name))
      }
    }

  private def rewriteDml(dml: LogicalPlan, database: Option[String]): Long = dml match {
    case UpdateTable(table, assignments, condition) =>
      val set = assignments.map { a =>
        val name = a.key match {
          case UnresolvedAttribute(Seq(n)) => n
          case k => throw new IllegalArgumentException(s"malformed SET assignment: ${k.sql}")
        }
        name -> ColumnBridge.column(a.value)
      }
      val predicate = condition.fold(lit(true))(ColumnBridge.column)
      onTarget(table, database)(LedgerTables.update(spark, _, predicate, set, _)())
    case DeleteFromTable(table, condition) =>
      val predicate = ColumnBridge.column(condition)
      onTarget(table, database)(LedgerTables.delete(spark, _, predicate, _)())
  }

  /** Resolve the DML target to a filesystem path (plus its declared
    * partition columns for catalog tables), run the rewrite, and refresh
    * cached file listings afterwards. A catalog table's partitions follow
    * its directories. After a whole-table rewrite, whose re-rendered
    * directory names may differ from the catalog's and whose DELETE may
    * empty a partition, `REPAIR TABLE … SYNC PARTITIONS` adds and drops
    * them (a job that gathers stats for every partition). The day-partition
    * rewrite keeps every directory name and adds no partition value, so only
    * the days a DELETE emptied are dropped, in the catalog alone. */
  private def onTarget(table: LogicalPlan, database: Option[String])(
      rewrite: (String, Seq[String]) => LedgerTables.Rewritten): Long = inDatabase(database) {
    val parts = table match {
      case UnresolvedRelation(parts, _, _) => parts
      case _ => Nil
    }
    require(parts.nonEmpty, "UPDATE/DELETE target must be a table or a path; " +
      s"a table alias (`UPDATE t AS u`) is not supported: ${table.nodeName}")
    parts match {
      case Seq(format, path) if format.equalsIgnoreCase("parquet") => rewrite(path, Nil).rows
      case Seq(path) if new Path(path).isAbsolute => rewrite(path, Nil).rows
      case _ =>
        require(parts.length <= 2, s"DML target must be table or db.table: ${parts.mkString(".")}")
        val ti = TableIdentifier(parts.last, parts.init.headOption)
        val meta = spark.sessionState.catalog.getTableMetadata(ti)
        val done = rewrite(meta.location.toString, meta.partitionColumnNames)
        if (done.emptiedDays.nonEmpty)
          spark.sessionState.catalog.dropPartitions(ti,
            done.emptiedDays.map(d => Map(meta.partitionColumnNames.head -> d)),
            ignoreIfNotExists = true, purge = false, retainData = true)
        spark.catalog.refreshTable(ti.quotedString)
        if (meta.partitionColumnNames.nonEmpty &&
            !LedgerTables.rewritesDayPartitions(meta.partitionColumnNames))
          spark.sql(s"REPAIR TABLE ${ti.quotedString} SYNC PARTITIONS")
        done.rows
    }
  }

  /** V5: DDL / control command; no rows, query id only. */
  def executeControlCommand(
      sql: String,
      database: Option[String] = None): EngineResult[Unit] =
    withQueryId(s"control: ${sql.take(120)}") {
      run(sql, Map.empty, database)
      ()
    }

  /**
   * V6: liveness — the reference lazily reconnects a closed connection
   * (`snowflake_query_client.py:107-116`); the Spark analogue is checking the
   * context is alive (a stopped session cannot be revived in-place).
   */
  def isActive: Boolean = !spark.sparkContext.isStopped
}
