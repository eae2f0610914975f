package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/**
 * Physical ledger management (SURVEY.md §1.3, §2.2 O20/O21; reference
 * `snowflake_tasks.py:9-62` passes caller DDL through — we own the schema).
 *
 * The ledger is parquet partitioned by `query_window_start_day`: the
 * reference's hand-maintained coarse day-band filter
 * (`overlap_checks.py:52-53`) becomes partition pruning — a day-band query
 * over a 100 TB ledger reads only the in-band partitions, verified by
 * `PartitionFilters` in the scan node (see LedgerTablesSpec).
 */
object LedgerTables {

  /** O20: CREATE TABLE IF NOT EXISTS — day-partitioned parquet in the session catalog. */
  def createDdl(table: String, locationClause: String = ""): String = {
    val cols = Schemas.pipelineRunSchema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(",\n  ")
    s"""CREATE TABLE IF NOT EXISTS $table (
       |  $cols
       |) USING PARQUET
       |PARTITIONED BY (query_window_start_day)
       |$locationClause""".stripMargin
  }

  def ensure(spark: SparkSession, table: String): Unit =
    spark.sql(createDdl(table))

  /** Write/append a ledger DataFrame as day-partitioned parquet at `path`. */
  def write(ledger: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    ledger.write
      .mode(mode)
      .partitionBy("query_window_start_day")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * O21 UPDATE: apply `SET col = expr` assignments to matching rows,
   * rewriting only the affected day partitions (or the whole table —
   * preserving its partition layout — when it is not day-partitioned).
   * The reference issues a Snowflake UPDATE; parquet is immutable, so the
   * engine stages the affected partitions and commits them through
   * [[Maintenance.rewrite]] — at 100 TB an update touching one day rewrites
   * that day, not the table. A status
   * transition is `Seq("pipeline_status" -> lit(status))`. Returns rows
   * affected (V4 contract). Backs SQL-text UPDATE in
   * `QueryEngine.executeDmlQuery`, which passes Spark's parsed WHERE and
   * SET expressions with their `:name` parameters already bound.
   * `partitionCols` is the table's declared partitioning when the caller
   * knows it (catalog tables); empty means "detect the ledger layout".
   * `schema`, when the caller knows it (a catalog table's), is the one the
   * rewrite reads the table with; without it the read infers the schema
   * from a file footer, which takes a Spark job.
   * Assigning a partition column is rejected — a row changing partitions
   * needs a delete+insert, not a partition rewrite. SET column names resolve
   * case-insensitively, like Spark's default analyzer.
   */
  def updateWhere(
      spark: SparkSession,
      path: String,
      predicate: Column,
      assignments: Seq[(String, Column)],
      partitionCols: Seq[String] = Nil): Long =
    update(spark, path, predicate, assignments, partitionCols)().rows

  private[graft] def update(
      spark: SparkSession,
      path: String,
      predicate: Column,
      assignments: Seq[(String, Column)],
      partitionCols: Seq[String],
      schema: Option[StructType] = None)(
      fs: FileSystem = Maintenance.fileSystem(spark, path)): Rewritten = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    rewriteAffectedPartitions(spark, path, predicate, partitionCols, schema, fs) { table =>
      // Validation runs against the IN-LEASE table snapshot, before the
      // rewrite's zero-match short-circuit: a malformed statement fails
      // loudly even when zero rows match, and the schema it validates
      // against can never be another writer's mid-commit view. Names resolve
      // case-insensitively, like Spark's default analyzer.
      val assigned = assignments.map { case (name, v) =>
        val resolved = table.columns.filter(_.equalsIgnoreCase(name))
        require(resolved.length == 1,
          s"UPDATE of ${if (resolved.isEmpty) "unknown" else "ambiguous"} column $name")
        resolved.head -> v
      }.toMap
      val parts = effectivePartitionCols(table, partitionCols)
      assigned.keys.foreach(c => require(!parts.exists(_.equalsIgnoreCase(c)),
        s"cannot UPDATE partition column $c; DELETE + INSERT instead"))
      // SQL UPDATE semantics: every SET expression and the predicate evaluate
      // against the PRE-update row, so all assignments go into one projection
      // (sequential withColumn would feed each assignment the previous one's
      // output — and a predicate on an updated column would stop matching).
      (ledger, pred) =>
        ledger.select(ledger.columns.toIndexedSeq.map { c =>
          assigned.get(c)
            .map(v => when(pred, v).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
    }
  }

  /** O21 DELETE: drop matching rows, rewriting only their day partitions. */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: Column,
      partitionCols: Seq[String] = Nil): Long =
    delete(spark, path, predicate, partitionCols)().rows

  private[graft] def delete(
      spark: SparkSession,
      path: String,
      predicate: Column,
      partitionCols: Seq[String],
      schema: Option[StructType] = None)(
      fs: FileSystem = Maintenance.fileSystem(spark, path)): Rewritten =
    rewriteAffectedPartitions(spark, path, predicate, partitionCols, schema, fs) { _ =>
      // Keep any row the predicate does not POSITIVELY match: a NULL
      // predicate result must retain the row (plain `!pred` is NULL for
      // NULL input and filter would silently delete non-matching rows).
      (ledger, pred) => ledger.filter(!coalesce(pred, lit(false)))
    }

  /** What a rewrite did: the rows it affected, and the day partitions it
    * left without a directory. A DELETE that removes a day's last row
    * empties it, and a catalog table must then drop that partition; the
    * whole-table rewrite reports no days (its caller syncs the catalog with
    * the directories). */
  private[graft] final case class Rewritten(rows: Long, emptiedDays: Seq[String])

  private val DayDir = "query_window_start_day="

  /** Whether a rewrite of a table with these partition columns rewrites
    * only the affected days: existing `query_window_start_day` directories,
    * under the names Spark itself gives them, never a new partition value. */
  private[graft] def rewritesDayPartitions(partitionCols: Seq[String]): Boolean =
    partitionCols == Seq("query_window_start_day")

  /** The table's partition columns: the caller-declared ones, else the
    * ledger's day column if present, else none. */
  private def effectivePartitionCols(
      ledger: DataFrame, declared: Seq[String]): Seq[String] =
    if (declared.nonEmpty) declared
    else if (ledger.columns.contains("query_window_start_day")) Seq("query_window_start_day")
    else Nil

  /** `transformFor` receives the IN-LEASE table snapshot (for validation +
    * schema resolution) and returns the row transform — so no caller ever
    * reads or validates against a pre-lease view of the table. The day
    * layout (DateType values render exactly as the partition directory
    * names) rewrites only the days holding a matching row; any other layout
    * is rewritten whole with the same partitionBy, so its directories
    * survive. Either way the rewrite retires exactly the snapshot files it
    * read, in [[Maintenance.rewrite]]'s one commit. */
  private def rewriteAffectedPartitions(
      spark: SparkSession,
      path: String,
      predicate: Column,
      partitionCols: Seq[String],
      schema: Option[StructType],
      fs: FileSystem)(
      transformFor: DataFrame => (DataFrame, Column) => DataFrame): Rewritten = {
    val base = new Path(path)
    val markers = IdempotentAppend.markerDir(base)
    val ((rows, days), removed) = Maintenance.rewrite(fs, base, markers) { staging =>
      val ledger = schema.fold(read(spark, path))(spark.read.schema(_).parquet(path))
      // resolve the transform FIRST: its validation must fire even when
      // zero rows match and the rewrite below short-circuits
      val transform = transformFor(ledger)
      val parts = effectivePartitionCols(ledger, partitionCols)
      val dayLayout = rewritesDayPartitions(parts)
      // any other layout is rewritten whole: one key counts every match
      val perDay = matchedPerDay(ledger.filter(predicate),
        if (dayLayout) col("query_window_start_day").cast("string") else lit(""))
      val (affected, days) = (perDay.values.sum, if (dayLayout) perDay.keys.toSeq.sorted else Nil)
      if (affected == 0L) (Nil, (0L, Nil))
      else {
        val slice =
          if (days.isEmpty) ledger
          else ledger.filter(col("query_window_start_day").isin(days: _*))
        val writer = transform(slice, predicate).write.mode(SaveMode.Overwrite)
        (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
          .parquet(staging.toString)
        val retired = Maintenance.snapshotRelPaths(fs, base, ledger)
          .filter(rel => days.isEmpty || days.exists(d => rel.startsWith(s"$DayDir$d/")))
        (retired, (affected, days))
      }
    }
    // a day whose every row was deleted: staging produced no file for it,
    // and no concurrent appender has committed one since
    Rewritten(rows, days.filter(d => removed.contains(DayDir + d)))
  }

  /** Matched rows per `day` value, in one stage and one job: each task
    * counts its own rows into a map of at most one entry per day, and the
    * driver merges the maps. A `groupBy(day).count()` would shuffle, which adaptive
    * execution runs as two jobs. */
  private def matchedPerDay(matched: DataFrame, day: Column): Map[String, Long] =
    matched.select(day).as(Encoders.STRING)
      .mapPartitions { days =>
        val n = mutable.HashMap.empty[String, Long]
        days.foreach(d => n(d) = n.getOrElse(d, 0L) + 1L)
        n.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
}
