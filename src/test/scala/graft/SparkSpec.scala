package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: one JVM-wide [[GraftSession]]. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    // plan-shape assertions read explain strings; the 100-char default
    // truncates PushedFilters lists mid-entry once a scan carries a few
    // predicates, making string assertions depend on filter ORDER
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Ledger rows: (record_id, pipeline, index, "yyyy-MM-dd HH:mm:ss" start, end, status). */
  def ledgerOf(rows: (Long, String, String, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq
      .toDF("record_id", "pipeline_name", "index_name", "s", "e", "pipeline_status")
      .select(
        col("record_id"), col("pipeline_name"), col("index_name"),
        to_timestamp(col("s")).as("query_window_start_ts"),
        to_timestamp(col("e")).as("query_window_end_ts"),
        to_date(col("s")).as("query_window_start_day"),
        to_date(col("e")).as("query_window_end_day"),
        col("pipeline_status"),
        lit(1.0).as("records_count"))
  }

  def docsOf(rows: (Long, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
