package graft

import org.scalatest.funsuite.AnyFunSuite

/** What a bench record carries besides its timings: the host facts, the
  * per-query resource counters, and a JSON encoding that survives odd
  * fixture paths. */
class BenchRecordSpec extends AnyFunSuite with TempDirs {

  test("current boot fingerprint is readable on this host (Linux)") {
    // the bench host is Linux in every environment this repo targets; if
    // either proc file goes missing the record silently degrades to
    // "unknown" and an A/B can no longer tell that its passes spanned a
    // reboot — surface that. On a non-Linux host (no /proc) Bench degrades
    // gracefully by design: cancel rather than fail there, keep the
    // surfacing on bench hosts.
    assume(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id")))
    assume(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get("/proc/uptime")))
    val b = Bench.currentBootId()
    assert(b.exists(_.matches("[0-9a-fA-F-]{8,}")), s"boot_id unreadable: $b")
    assert(Bench.uptimeSeconds().exists(_ >= 0))
  }

  test("records round-trip an sf holding quotes and backslashes") {
    import scala.collection.immutable.VectorMap
    val f = tempDir("bench_record").resolve("b.json")
    val odd = """/data/an "odd" \sf0.1"""
    java.nio.file.Files.write(f, Json.write(VectorMap(
      "metric" -> "total_steady", "queries" -> VectorMap("a1" -> 0.35),
      "boot_id" -> "0f21ab34-cd56", "sf" -> odd)).getBytes("UTF-8"))
    val rec = Json.readObject(f).getOrElse(fail(s"unreadable record $f"))
    assert(rec.path("sf").asText == odd)
    assert(rec.path("queries").path("a1").asDouble == 0.35)
    assert(rec.path("boot_id").asText == "0f21ab34-cd56")
    // a missing or mangled file reads as no record
    assert(Json.readObject(f.resolveSibling("absent.json")).isEmpty)
    java.nio.file.Files.write(f, "not json at all".getBytes("UTF-8"))
    assert(Json.readObject(f).isEmpty)
  }

  test("ResourceTally counts a shuffle and settles outside the timed path") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val tally = new Bench.ResourceTally
    spark.sparkContext.addSparkListener(tally)
    try {
      tally.settle()
      val before = tally.snapshot()
      tally.resetPeak()
      // A groupBy over enough distinct keys to force a real exchange write.
      val n = (1L to 20000L).toDF("k")
        .groupBy(org.apache.spark.sql.functions.col("k") % 997).count().count()
      assert(n == 997)
      tally.settle()
      val delta = tally.snapshot().zip(before).map { case (a, b) => a - b }
      // snapshot order: shuffleRead, shuffleWrite, spillDisk, spillMem, input
      assert(delta(0) > 0, s"expected shuffle read bytes, got $delta")
      assert(delta(1) > 0, s"expected shuffle write bytes, got $delta")
      assert(delta.forall(_ >= 0), s"counters must be monotone: $delta")
      assert(tally.peak() > 0, "aggregation must report per-task peak memory")
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
