package graft

import graft.engine.QueryEngine

/** V1-V8 facade behavior (SURVEY.md §2.1). */
class QueryEngineSpec extends SparkSpec {

  private lazy val engine = new QueryEngine(spark)

  test("scalar / dataframe / tuples verbs with named parameter binding") {
    ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 11:00:00", "2024-01-15 12:00:00", "completed"),
      (3L, "q", "i", "2024-01-15 12:00:00", "2024-01-15 13:00:00", "completed"))
      .createOrReplaceTempView("runs")
    val n = engine.executeScalarQuery(
      "SELECT COUNT(*) FROM runs WHERE pipeline_status = :s", Map("s" -> "completed"))
    assert(n.data.contains(2L))
    assert(n.queryId.nonEmpty)
    val df = engine.fetchAllRowsAsDataFrame(
      "SELECT record_id FROM runs WHERE pipeline_name = :p ORDER BY record_id",
      Map("p" -> "p"))
    assert(df.data.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val rows = engine.fetchAllRowsAsTuples("SELECT record_id FROM runs ORDER BY record_id")
    assert(rows.data.length == 3)
  }

  test("scalar on empty result returns None (reference empty-branch O19)") {
    assert(engine.executeScalarQuery(
      "SELECT record_id FROM runs WHERE pipeline_status = 'nope'").data.isEmpty)
  }

  test("control command runs DDL; DML reports rows affected") {
    val tmp = tempDir("graft_dml").toString
    engine.executeControlCommand(
      s"CREATE TABLE graft_dml_t (id BIGINT, s STRING) USING PARQUET LOCATION '$tmp/t'")
    try {
      val ins = engine.executeDmlQuery(
        "INSERT INTO graft_dml_t SELECT record_id, pipeline_status FROM runs")
      assert(ins.data == 3L, s"rows_affected=${ins.data}")
      assert(engine.executeScalarQuery("SELECT COUNT(*) FROM graft_dml_t").data.contains(3L))
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_t")
  }

  test("SQL-text UPDATE/DELETE on a catalog table dispatch to the rewrite path (V4)") {
    val tmp = tempDir("graft_dml_sql").toString
    engine.executeControlCommand(
      s"CREATE TABLE graft_dml_u (id BIGINT, s STRING) USING PARQUET LOCATION '$tmp/u'")
    try {
      engine.executeDmlQuery(
        "INSERT INTO graft_dml_u VALUES (1, 'pending'), (2, 'pending'), (3, 'done')")
      val up = engine.executeDmlQuery(
        "UPDATE graft_dml_u SET s = :to WHERE s = :from",
        Map("to" -> "done", "from" -> "pending"))
      assert(up.data == 2L, s"rows_affected=${up.data}")
      assert(engine.executeScalarQuery(
        "SELECT COUNT(*) FROM graft_dml_u WHERE s = 'done'").data.contains(3L))
      val del = engine.executeDmlQuery(
        "DELETE FROM graft_dml_u WHERE id <= :k", Map("k" -> 2))
      assert(del.data == 2L, s"rows_affected=${del.data}")
      assert(engine.executeScalarQuery(
        "SELECT COUNT(*) FROM graft_dml_u").data.contains(1L))
      // no matching rows → 0 affected, data untouched
      assert(engine.executeDmlQuery(
        "DELETE FROM graft_dml_u WHERE id = 999").data == 0L)
      // a :name inside a string literal is data, not a parameter
      val lit = engine.executeDmlQuery(
        "UPDATE graft_dml_u SET s = 'ratio a:k b' WHERE id = :k", Map("k" -> 3))
      assert(lit.data == 1L)
      assert(engine.fetchAllRowsAsTuples(
        "SELECT s FROM graft_dml_u WHERE id = 3").data.head.getString(0) == "ratio a:k b")
      // WHERE inside a SET subquery must not split the statement
      val sub = engine.executeDmlQuery(
        "UPDATE graft_dml_u SET s = (SELECT 'x' WHERE 1 = 1) WHERE id = 3")
      assert(sub.data == 1L)
      assert(engine.fetchAllRowsAsTuples(
        "SELECT s FROM graft_dml_u WHERE id = 3").data.head.getString(0) == "x")
      // SET column names resolve case-insensitively like Spark's analyzer
      assert(engine.executeDmlQuery(
        "UPDATE graft_dml_u SET S = 'ci' WHERE id = 3").data == 1L)
      // WHERE immediately followed by a paren (no space) still parses
      assert(engine.executeDmlQuery(
        "UPDATE graft_dml_u SET s = 'p' WHERE(id = 3)").data == 1L)
      // a backslash-escaped quote inside a literal must not derail the scan
      val esc = engine.executeDmlQuery(
        "UPDATE graft_dml_u SET s = 'don\\'t' WHERE id = 3")
      assert(esc.data == 1L)
      assert(engine.fetchAllRowsAsTuples(
        "SELECT s FROM graft_dml_u WHERE id = 3").data.head.getString(0) == "don't")
      // malformed statements fail loudly even when zero rows would match
      intercept[Exception] {
        engine.executeDmlQuery("UPDATE graft_dml_u SET nosuchcol = 1 WHERE id = 999")
      }
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_u")
  }

  test("SQL-text DML on a catalog table partitioned by a non-ledger column keeps its layout") {
    val tmp = tempDir("graft_dml_part").toString
    engine.executeControlCommand(
      s"""CREATE TABLE graft_dml_p (id BIGINT, s STRING, day STRING) USING PARQUET
         |PARTITIONED BY (day) LOCATION '$tmp/p'""".stripMargin)
    try {
      engine.executeDmlQuery(
        "INSERT INTO graft_dml_p VALUES (1, 'a', 'd1'), (2, 'b', 'd1'), (3, 'c', 'd2')")
      val up = engine.executeDmlQuery("UPDATE graft_dml_p SET s = 'z' WHERE id <= 2")
      assert(up.data == 2L)
      // the partition directories must survive the whole-table rewrite
      val fs = new org.apache.hadoop.fs.Path(s"$tmp/p")
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/p"))
        .filter(_.isDirectory).map(_.getPath.getName).sorted
      assert(dirs.toSeq == Seq("day=d1", "day=d2"), dirs.mkString(","))
      assert(engine.executeScalarQuery(
        "SELECT COUNT(*) FROM graft_dml_p WHERE s = 'z'").data.contains(2L))
      assert(engine.executeScalarQuery(
        "SELECT COUNT(*) FROM graft_dml_p WHERE day = 'd2'").data.contains(1L))
      // updating the partition column is a partition move — rejected loudly
      intercept[Exception] {
        engine.executeDmlQuery("UPDATE graft_dml_p SET day = 'd9' WHERE id = 1")
      }
      val del = engine.executeDmlQuery("DELETE FROM graft_dml_p WHERE day = 'd2'")
      assert(del.data == 1L)
      assert(engine.executeScalarQuery(
        "SELECT COUNT(*) FROM graft_dml_p").data.contains(2L))
      // the emptied partition leaves the catalog with its directory
      assert(spark.sql("SHOW PARTITIONS graft_dml_p").collect().map(_.getString(0)).toSeq ==
        Seq("day=d1"))
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_p")
  }

  test("SQL-text UPDATE on the day-partitioned ledger path, multi-assignment SET") {
    val tmp = tempDir("graft_dml_ledger").toString + "/ledger"
    graft.sources.LedgerTables.write(ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 11:00:00", "2024-01-15 12:00:00", "pending"),
      (3L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "completed")), tmp)
    val up = engine.executeDmlQuery(
      s"UPDATE parquet.`$tmp` SET pipeline_status = 'completed', records_count = records_count + 1 " +
        "WHERE pipeline_status = 'pending'")
    assert(up.data == 2L)
    val after = graft.sources.LedgerTables.read(spark, tmp)
      .filter(org.apache.spark.sql.functions.col("record_id") <= 2)
      .select("pipeline_status", "records_count").collect()
    assert(after.forall(r => r.getString(0) == "completed" && r.getDouble(1) == 2.0))
    val del = engine.executeDmlQuery(s"DELETE FROM parquet.`$tmp` WHERE record_id = 3")
    assert(del.data == 1L)
    assert(graft.sources.LedgerTables.read(spark, tmp).count() == 2L)
  }

  test("SQL-text UPDATE/DELETE on a DDL'd day-partitioned ledger: one pre-scan, partitions kept") {
    // Counts the queries that are not commands: the pre-scan that finds the
    // affected days and rows. The staged write and any catalog command are
    // commands and do not count.
    val scans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (!qe.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command])
          scans.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def preScans(dml: => Long): (Long, Int) = {
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      scans.set(0)
      spark.listenerManager.register(listener)
      try {
        val n = dml
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        (n, scans.get())
      } finally spark.listenerManager.unregister(listener)
    }
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 11:00:00", "2024-01-15 12:00:00", "pending"),
      (3L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "pending"),
      (4L, "p", "i", "2024-01-16 11:00:00", "2024-01-16 12:00:00", "completed"),
      (5L, "p", "i", "2024-01-17 10:00:00", "2024-01-17 11:00:00", "completed"))
    rows.createOrReplaceTempView("graft_dml_cat_rows")
    graft.sources.LedgerTables.ensure(spark, "graft_dml_cat")
    try {
      val cols = rows.columns.mkString(", ")
      engine.executeDmlQuery(
        s"INSERT INTO graft_dml_cat ($cols) SELECT $cols FROM graft_dml_cat_rows")
      def partitions() = spark.sql("SHOW PARTITIONS graft_dml_cat").collect().map(_.getString(0)).toSeq
      def status() = spark.table("graft_dml_cat").select("record_id", "pipeline_status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val before = partitions()
      assert(before.length == 3, before)
      assert(preScans(engine.executeDmlQuery(
        "UPDATE graft_dml_cat SET pipeline_status = 'completed' WHERE pipeline_status = :s",
        Map("s" -> "pending")).data) == (3L, 1))
      assert(partitions() == before)
      assert(status() == (1L to 5L).map(_ -> "completed").toMap)
      assert(preScans(engine.executeDmlQuery(
        "DELETE FROM graft_dml_cat WHERE record_id IN (2, 4)").data) == (2L, 1))
      assert(partitions() == before)
      assert(status() == Seq(1L, 3L, 5L).map(_ -> "completed").toMap)
      // no match: still one pre-scan, nothing rewritten
      assert(preScans(engine.executeDmlQuery(
        "UPDATE graft_dml_cat SET records_count = 0 WHERE record_id = 99").data) == (0L, 1))
      assert(spark.table("graft_dml_cat").count() == 3L)
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_cat")
  }

  test("DELETE that empties a day of a DDL'd ledger drops that partition from the catalog") {
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "pending"),
      (3L, "p", "i", "2024-01-16 11:00:00", "2024-01-16 12:00:00", "completed"),
      (4L, "p", "i", "2024-01-17 10:00:00", "2024-01-17 11:00:00", "completed"))
    rows.createOrReplaceTempView("graft_dml_empty_rows")
    graft.sources.LedgerTables.ensure(spark, "graft_dml_empty")
    try {
      val cols = rows.columns.mkString(", ")
      engine.executeDmlQuery(
        s"INSERT INTO graft_dml_empty ($cols) SELECT $cols FROM graft_dml_empty_rows")
      def partitions() =
        spark.sql("SHOW PARTITIONS graft_dml_empty").collect().map(_.getString(0)).toSeq
      assert(partitions().length == 3)
      // both rows of 2024-01-16 go; the other days keep theirs
      assert(engine.executeDmlQuery(
        "DELETE FROM graft_dml_empty WHERE record_id IN (2, 3)").data == 2L)
      assert(partitions() == Seq(
        "query_window_start_day=2024-01-15", "query_window_start_day=2024-01-17"))
      assert(spark.table("graft_dml_empty").select("record_id").collect().map(_.getLong(0))
        .sorted.toSeq == Seq(1L, 4L))
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_empty")
  }

  test("per-call database scoping resolves in the target db and restores the session db") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_scoped_db")
    val before = spark.catalog.currentDatabase
    try {
      engine.executeControlCommand(
        "CREATE TABLE IF NOT EXISTS t_scoped (id BIGINT) USING PARQUET",
        database = Some("graft_scoped_db"))
      assert(spark.catalog.tableExists("graft_scoped_db.t_scoped"))
      assert(spark.catalog.currentDatabase == before, "scope must not leak")
      val n = engine.executeScalarQuery("SELECT COUNT(*) FROM t_scoped",
        database = Some("graft_scoped_db"))
      assert(n.data.contains(0L))
      assert(spark.catalog.currentDatabase == before)
      // UPDATE/DELETE take the partition-rewrite path; they resolve in the
      // same scope and leave the session database as it was
      engine.executeDmlQuery("INSERT INTO t_scoped VALUES (1), (2), (3)",
        database = Some("graft_scoped_db"))
      assert(engine.executeDmlQuery("UPDATE t_scoped SET id = id + 10 WHERE id = 1",
        database = Some("graft_scoped_db")).data == 1L)
      assert(spark.catalog.currentDatabase == before)
      assert(engine.executeDmlQuery("DELETE FROM t_scoped WHERE id = 2",
        database = Some("graft_scoped_db")).data == 1L)
      assert(spark.catalog.currentDatabase == before)
      assert(engine.fetchAllRowsAsTuples("SELECT id FROM graft_scoped_db.t_scoped ORDER BY id")
        .data.map(_.getLong(0)).toSeq == Seq(3L, 11L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_scoped_db.t_scoped")
      spark.sql("DROP DATABASE IF EXISTS graft_scoped_db")
    }
  }

  /** A day-partitioned ledger at a fresh path, addressed as `parquet.`path``. */
  private def ledgerAt(name: String,
      rows: (Long, String, String, String, String, String)*): String = {
    val tmp = tempDir(name).toString + "/ledger"
    graft.sources.LedgerTables.write(ledgerOf(rows: _*), tmp)
    s"parquet.`$tmp`"
  }

  test("UPDATE binds a java.sql.Timestamp as the same instant spark.sql(text, args) does") {
    val t = ledgerAt("graft_dml_zone",
      (1L, "p", "i", "2024-01-15 01:00:00", "2024-01-15 02:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 05:00:00", "2024-01-15 06:00:00", "pending"),
      (3L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (4L, "p", "i", "2024-01-15 13:00:00", "2024-01-15 14:00:00", "pending"))
    // 12:00 UTC is 04:00 Los Angeles wall clock: read as session-zone text
    // it would match one row instead of three
    val at = Map("t" -> java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T12:00:00Z")))
    val jvmZone = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      val counted = engine.executeScalarQuery(
        s"SELECT COUNT(*) FROM $t WHERE query_window_start_ts < :t", at).data
      assert(counted.contains(3L))
      val up = engine.executeDmlQuery(
        s"UPDATE $t SET pipeline_status = 'completed' WHERE query_window_start_ts < :t", at)
      assert(counted.contains(up.data), s"rows_affected=${up.data} counted=$counted")
    } finally java.util.TimeZone.setDefault(jvmZone)
  }

  test("UPDATE/DELETE bind Instant, LocalDateTime and LocalDate; an unbound :name fails") {
    import java.time.{Instant, LocalDate, LocalDateTime}
    val t = ledgerAt("graft_dml_java8",
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 12:00:00", "2024-01-15 13:00:00", "pending"),
      (3L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "pending"))
    def ends() = engine.fetchAllRowsAsTuples(
      s"SELECT record_id, CAST(query_window_end_ts AS STRING), " +
        s"CAST(query_window_end_day AS STRING) FROM $t ORDER BY record_id")
      .data.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(engine.executeDmlQuery(
      s"UPDATE $t SET query_window_end_ts = :end, query_window_end_day = :endDay " +
        "WHERE query_window_start_ts < :before AND query_window_start_day = :day",
      Map("end" -> Instant.parse("2024-01-16T01:00:00Z"), "endDay" -> LocalDate.of(2024, 1, 16),
        "before" -> LocalDateTime.parse("2024-01-15T11:00:00"),
        "day" -> LocalDate.of(2024, 1, 15))).data == 1L)
    assert(engine.executeDmlQuery(
      s"UPDATE $t SET query_window_end_ts = :end WHERE query_window_start_ts = :start",
      Map("end" -> LocalDateTime.parse("2024-01-16T12:30:00"),
        "start" -> Instant.parse("2024-01-16T10:00:00Z"))).data == 1L)
    assert(ends() == Seq(
      (1L, "2024-01-16 01:00:00", "2024-01-16"),
      (2L, "2024-01-15 13:00:00", "2024-01-15"),
      (3L, "2024-01-16 12:30:00", "2024-01-16")))
    assert(engine.executeDmlQuery(
      s"DELETE FROM $t WHERE query_window_start_ts >= :from AND query_window_start_day <= :day",
      Map("from" -> Instant.parse("2024-01-15T12:00:00Z"), "day" -> LocalDate.of(2024, 1, 15)))
      .data == 1L)
    assert(ends().map(_._1) == Seq(1L, 3L))
    // an unbound :name fails loudly, as in spark.sql, even with no matching row
    val unbound = intercept[org.apache.spark.sql.AnalysisException] {
      engine.executeDmlQuery(s"UPDATE $t SET pipeline_status = :s WHERE record_id = 99")
    }
    assert(unbound.getCondition == "UNBOUND_SQL_PARAMETER", unbound.getMessage)
    assert(intercept[org.apache.spark.sql.AnalysisException] {
      engine.executeDmlQuery(s"DELETE FROM $t WHERE record_id = :id", Map("other" -> 1))
    }.getCondition == "UNBOUND_SQL_PARAMETER")
  }

  test("UPDATE/DELETE that open with a comment still take the partition rewrite") {
    val t = ledgerAt("graft_dml_comment",
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (2L, "p", "i", "2024-01-15 12:00:00", "2024-01-15 13:00:00", "pending"),
      (3L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "pending"))
    assert(engine.executeDmlQuery(
      s"-- note\nUPDATE $t SET pipeline_status = 'completed' WHERE record_id <= :k",
      Map("k" -> 2)).data == 2L)
    assert(engine.executeDmlQuery(
      s"/* hint */ DELETE FROM $t WHERE pipeline_status = 'completed'").data == 2L)
    assert(engine.fetchAllRowsAsTuples(s"SELECT record_id FROM $t")
      .data.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("UPDATE rejects a table alias and an unquoted path") {
    val t = ledgerAt("graft_dml_alias",
      (1L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"))
    val alias = intercept[IllegalArgumentException] {
      engine.executeDmlQuery(s"UPDATE $t AS u SET pipeline_status = 'x'")
    }
    assert(alias.getMessage.contains("table alias"), alias.getMessage)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      engine.executeDmlQuery("UPDATE /tmp/graft_no_such SET pipeline_status = 'x'")
    }
  }

  test("liveness mirrors the reference's lazy-reconnect check") {
    assert(engine.isActive)
  }
}
