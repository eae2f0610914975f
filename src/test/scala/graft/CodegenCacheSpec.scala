package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.api.PipelineTasks
import graft.engine.QueryEngine
import graft.sources.LedgerTables

/** A warm session compiles no generated class twice: a second pass of the
  * curation family queries must be served entirely from Spark's class cache
  * (`GraftSession.CodegenCacheEntries`). With Spark's default of 100 entries
  * the pass's planning and executor copies do not fit, and every steady pass
  * recompiled most of its classes with Janino. A ledger tick binds its
  * per-call values by reference, so a tick with other windows, days and ids
  * compiles nothing either. */
class CodegenCacheSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val curation = Seq(
    "x81_nb_quality", "x79_bigram_lm", "x72_bpe_numericalize", "x4_embed_neardup")

  private def pass(): Unit = curation.foreach { n =>
    SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles of the first and of the second of two passes. */
  private def twoPasses(): (Long, Long) = {
    val c0 = compiles
    pass()
    val c1 = compiles
    pass()
    info(s"Janino compiles: first pass ${c1 - c0}, second pass ${compiles - c1}")
    (c1 - c0, compiles - c1)
  }

  test("with AQE on, a second curation pass recompiles only renumbered stages") {
    // The sessions every main builds run with AQE on, so this is the pass
    // that ships. A pass needs about 160 cache entries; at Spark's 100
    // entries the second pass recompiled about 150 of them, at
    // CodegenCacheEntries only the 4-12 classes whose codegen stage AQE
    // numbered differently (see the next test). A fifth of the working set
    // separates the two with room for AQE's run-to-run variation.
    val (first, second) = twoPasses()
    assert(second <= 32, s"the second pass recompiled $second classes " +
      s"(the first compiled $first)")
  }

  test("a second curation pass compiles no generated class") {
    // AQE numbers a query's codegen stages in the order its shuffle stages
    // finish, and the number is part of the generated class name, so with
    // AQE on a pass can legitimately produce new source (x4 swapped stages
    // 6 and 8 between two passes). Without it the plans, and so the
    // sources, repeat exactly; what is left to test is the cache.
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val (first, second) = twoPasses()
      assert(second == 0, s"the second pass recompiled $second classes " +
        s"(the first compiled $first)")
    } finally spark.conf.set(aqe, prior)
  }

  test("a second ledger tick with other windows, days and ids compiles no generated class") {
    // The orchestrator's tick: the six read verbs, an INSERT and an UPDATE
    // on a DDL'd ledger. Spark's Literal writes a timestamp, date or bigint
    // into the generated source, so with literal bounds every tick compiled
    // new classes (12 per tick).
    val table = "graft_codegen_ledger"
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-15 08:00:00", "2024-01-15 09:00:00", "completed"),
      (2L, "p", "i", "2024-01-15 09:30:00", "2024-01-15 10:30:00", "completed"),
      (3L, "p", "i", "2024-01-15 10:00:00", "2024-01-15 11:00:00", "pending"),
      (4L, "p", "i", "2024-01-16 08:00:00", "2024-01-16 09:00:00", "completed"),
      (5L, "p", "i", "2024-01-16 09:30:00", "2024-01-16 10:30:00", "completed"),
      (6L, "p", "i", "2024-01-16 10:00:00", "2024-01-16 11:00:00", "pending"))
    rows.createOrReplaceTempView("graft_codegen_ledger_rows")
    LedgerTables.ensure(spark, table)
    try {
      val engine = new QueryEngine(spark)
      val cols = rows.columns.mkString(", ")
      engine.executeDmlQuery(
        s"INSERT INTO $table ($cols) SELECT $cols FROM graft_codegen_ledger_rows")
      val tasks = new PipelineTasks(engine, () => spark.table(table))
      def tick(day: LocalDate, hour: Int, id: Long): Unit = {
        val start = Instant.parse(s"${day}T$hour:00:00Z")
        def wall(i: Instant) = i.toString.stripSuffix("Z").replace('T', ' ')
        tasks.getOldestRecordByStatus("pending")
        tasks.findOverlappingRecordsForInput("p", "i", wall(start), wall(start.plusSeconds(5400)))
        assert(!tasks.getDiscontinuousQueryWindows("p", "i", day.toString).value._1)
        assert(tasks.findOverlappingQueryWindows("p", "i", day.toString).value.nonEmpty)
        tasks.countRecordsByPipelineStatus("completed")
        tasks.getLatestRecordByStatus("completed")
        engine.executeDmlQuery(
          s"INSERT INTO $table ($cols) VALUES (:id, 'p', 'i', :s, :e, :sd, :sd, 'pending', 1.0)",
          Map("id" -> id, "s" -> start, "e" -> start.plusSeconds(1800), "sd" -> day))
        assert(engine.executeDmlQuery(
          s"UPDATE $table SET pipeline_status = 'completed' WHERE record_id = :id",
          Map("id" -> id)).data == 1L)
      }
      val c0 = compiles
      tick(LocalDate.of(2024, 1, 15), 12, 100L)
      val c1 = compiles
      tick(LocalDate.of(2024, 1, 16), 13, 101L)
      val second = compiles - c1
      info(s"Janino compiles: first tick ${c1 - c0}, second tick $second")
      assert(second == 0, s"the second tick compiled $second classes")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
