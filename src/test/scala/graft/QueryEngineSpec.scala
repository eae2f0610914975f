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
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml").toString
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml_sql").toString
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml_part").toString
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
    } finally engine.executeControlCommand("DROP TABLE IF EXISTS graft_dml_p")
  }

  test("SQL-text UPDATE on the day-partitioned ledger path, multi-assignment SET") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml_ledger").toString + "/ledger"
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
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_scoped_db.t_scoped")
      spark.sql("DROP DATABASE IF EXISTS graft_scoped_db")
    }
  }

  test("liveness mirrors the reference's lazy-reconnect check") {
    assert(engine.isActive)
  }
}
