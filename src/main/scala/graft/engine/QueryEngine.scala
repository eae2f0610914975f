package graft.engine

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

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
 * defect (`snowflake_tasks.py:525-537` interpolates a raw string).
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

  private def run(sql: String, params: Map[String, Any], database: Option[String]): DataFrame = {
    // Per-call `USE DATABASE/SCHEMA` scoping (reference verb V7). Name
    // resolution happens eagerly inside spark.sql (analysis), so the
    // previous database can be restored immediately after — the scope really
    // is per-call, it does not leak into subsequent calls.
    val prev = database.map(_ => spark.catalog.currentDatabase)
    database.foreach(db => spark.catalog.setCurrentDatabase(db))
    try if (params.isEmpty) spark.sql(sql) else spark.sql(sql, params)
    finally prev.foreach(spark.catalog.setCurrentDatabase)
  }

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
   *  - UPDATE / DELETE text is intercepted and dispatched to the
   *    partition-rewrite implementations ([[graft.sources.LedgerTables]]),
   *    because plain parquet cannot execute `spark.sql("UPDATE …")`. The
   *    target may be a catalog table (its location is resolved and, after
   *    the rewrite, the table is refreshed) or a `parquet.`/path``-style /
   *    direct path. Named parameters (`:name`) are bound as SQL literals.
   */
  def executeDmlQuery(
      sql: String,
      params: Map[String, Any] = Map.empty,
      database: Option[String] = None): EngineResult[Long] =
    withQueryId(s"dml: ${sql.take(120)}") {
      sql match {
        case UpdateRe(rest) =>
          val (beforeWhere, whereOpt) = splitAtKeyword(stripTrailing(rest), "WHERE")
          val (target, setOpt) = splitAtKeyword(beforeWhere, "SET")
          require(setOpt.nonEmpty, s"malformed UPDATE (no SET clause): $sql")
          runRewriteDml(target, database) { (path, parts) =>
            graft.sources.LedgerTables.updateWhere(spark, path,
              predicateOf(whereOpt, params),
              splitTopLevel(setOpt.get).map(assignmentOf(_, params)),
              parts)
          }
        case DeleteRe(rest) =>
          val (target, whereOpt) = splitAtKeyword(stripTrailing(rest), "WHERE")
          runRewriteDml(target, database) { (path, parts) =>
            graft.sources.LedgerTables.deleteWhere(spark, path,
              predicateOf(whereOpt, params), parts)
          }
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

  // ---- SQL-text UPDATE/DELETE dispatch --------------------------------
  // Supported surface (the reference's DML call sites are single-table,
  // single-predicate statements): `UPDATE <target> SET c = e[, …] [WHERE p]`
  // and `DELETE FROM <target> [WHERE p]`. Keyword detection is a top-level
  // scan (outside parentheses, '...' strings, and `...` quoting), so WHERE
  // inside a SET subquery or a quoted string does not mis-split.

  private val UpdateRe = "(?is)^\\s*UPDATE\\s+(.+)$".r
  private val DeleteRe = "(?is)^\\s*DELETE\\s+FROM\\s+(.+)$".r

  private def stripTrailing(s: String): String =
    s.trim.stripSuffix(";").trim

  private def predicateOf(whereOpt: Option[String], params: Map[String, Any]) =
    whereOpt match {
      case Some(p) => org.apache.spark.sql.functions.expr(bindParams(p, params))
      case None => org.apache.spark.sql.functions.lit(true)
    }

  private def assignmentOf(part: String, params: Map[String, Any]) = {
    val eq = part.indexOf('=')
    require(eq > 0, s"malformed SET assignment: $part")
    val name = part.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
    (name, org.apache.spark.sql.functions.expr(bindParams(part.substring(eq + 1), params)))
  }

  /**
   * Per-character quoting state for a SQL fragment: `top(i)` is true when
   * char i sits OUTSIDE '...' strings, `...` quoting, and parentheses.
   * One shared tokenizer backs all three scanners below, so their quoting
   * rules cannot drift: backslash-escaped quotes inside strings are skipped
   * (Spark's default escapedStringLiterals=false), and the SQL doubled-quote
   * escape ('don''t') is safe under plain toggling — the two quote chars
   * enclose an empty region.
   */
  private def topLevelMask(s: String): Array[Boolean] = {
    val top = new Array[Boolean](s.length)
    var inStr = false
    var inTick = false
    var depth = 0
    var i = 0
    while (i < s.length) {
      top(i) = !inStr && !inTick && depth == 0
      val c = s.charAt(i)
      if (inStr && c == '\\' && i + 1 < s.length) {
        top(i + 1) = false
        i += 2
      } else {
        if (c == '\'' && !inTick) inStr = !inStr
        else if (c == '`' && !inStr) inTick = !inTick
        else if (!inStr && !inTick) {
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
        }
        i += 1
      }
    }
    top
  }

  private def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Split at the first top-level occurrence of `kw` as a standalone word
    * (identifier-boundary on both sides, so `WHERE(x=1)` is recognized;
    * a preceding '.' marks a qualified reference like `d.where`, never the
    * keyword); return (before, Some(after)) or (s, None). Case-insensitive. */
  private def splitAtKeyword(s: String, kw: String): (String, Option[String]) = {
    val top = topLevelMask(s)
    var i = 0
    while (i <= s.length - kw.length) {
      if (top(i) && s.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || (!isIdentChar(s.charAt(i - 1)) && s.charAt(i - 1) != '.')) &&
        (i + kw.length == s.length || !isIdentChar(s.charAt(i + kw.length)))) {
        return (s.substring(0, i).trim, Some(s.substring(i + kw.length).trim))
      }
      i += 1
    }
    (s.trim, None)
  }

  /** Split a SET clause on top-level commas. */
  private def splitTopLevel(s: String): Seq[String] = {
    val top = topLevelMask(s)
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (top(i) && s.charAt(i) == ',') {
        out += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Bind `:name` parameters as SQL literals (the intercepted path cannot use
    * Spark's parameterized `spark.sql`). Tokens inside '...' strings or
    * `...` quoting are data, not parameters, and are left untouched. */
  private def bindParams(text: String, params: Map[String, Any]): String = {
    // ":name" binds anywhere outside quoting — including inside parens, so
    // the mask here tracks quotes only.
    val oq = outsideQuotes(text)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == ':' && oq(i) && i + 1 < text.length &&
        (text.charAt(i + 1).isLetter || text.charAt(i + 1) == '_')) {
        var j = i + 1
        while (j < text.length && isIdentChar(text.charAt(j))) j += 1
        params.get(text.substring(i + 1, j)) match {
          case Some(v) => sb ++= sqlLiteral(v); i = j
          case None => sb += c; i += 1
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Like [[topLevelMask]] but tracking quoting only (parens irrelevant). */
  private def outsideQuotes(s: String): Array[Boolean] = {
    val out = new Array[Boolean](s.length)
    var inStr = false
    var inTick = false
    var i = 0
    while (i < s.length) {
      out(i) = !inStr && !inTick
      val c = s.charAt(i)
      if (inStr && c == '\\' && i + 1 < s.length) {
        out(i + 1) = false
        i += 2
      } else {
        if (c == '\'' && !inTick) inStr = !inStr
        else if (c == '`' && !inStr) inTick = !inTick
        i += 1
      }
    }
    out
  }

  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case d: java.sql.Date => s"DATE '$d'"
    case other => other.toString
  }

  /** Resolve the DML target to a filesystem path (plus its declared
    * partition columns for catalog tables), run the rewrite, and refresh
    * cached file listings afterwards. Partition metadata is recovered only
    * after a whole-table rewrite, whose re-rendered directory names may
    * differ from the catalog's: the day-partition swap keeps every
    * directory name and adds no partition value, and recovery costs a job
    * that gathers stats for every partition. */
  private def runRewriteDml(target0: String, database: Option[String])(
      rewrite: (String, Seq[String]) => Long): Long = {
    val target = target0.trim
    val ParquetPath = "(?is)^parquet\\s*\\.\\s*`(.+)`$".r
    target match {
      case ParquetPath(p) => rewrite(p, Nil)
      case _ if target.contains("/") =>
        rewrite(target.stripPrefix("`").stripSuffix("`"), Nil)
      case _ =>
        val prev = database.map(_ => spark.catalog.currentDatabase)
        database.foreach(db => spark.catalog.setCurrentDatabase(db))
        try {
          val ti = spark.sessionState.sqlParser.parseTableIdentifier(target)
          val meta = spark.sessionState.catalog.getTableMetadata(ti)
          val n = rewrite(meta.location.toString, meta.partitionColumnNames)
          spark.catalog.refreshTable(target)
          if (meta.partitionColumnNames.nonEmpty &&
              !graft.sources.LedgerTables.swapsDayPartitions(meta.partitionColumnNames))
            spark.catalog.recoverPartitions(target)
          n
        } finally prev.foreach(spark.catalog.setCurrentDatabase)
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
