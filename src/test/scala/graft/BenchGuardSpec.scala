package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench outlier guard's prior-record parser: the guard can only
  * fire if the committed BENCH_line.json steady map round-trips. */
class BenchGuardSpec extends AnyFunSuite {

  test("priorSteady parses the committed line's queries map") {
    val dir = java.nio.file.Files.createTempDirectory("bench_guard")
    val line = """{"metric":"total_steady","value":12.5,"unit":"sec",""" +
      """"queries":{"a1_pricing":0.35,"x32_span_dedup":0.347,"x99_bad":-1.0},""" +
      """"total_cold":20.1,"reps":3,"sf":"/root/testdata/sf0.1","detail":"/x"}"""
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"), line.getBytes("UTF-8"))
    val m = Bench.priorSteady(dir, "/root/testdata/sf0.1")
    assert(m == Map("a1_pricing" -> 0.35, "x32_span_dedup" -> 0.347, "x99_bad" -> -1.0))
    // a record at another scale factor is not comparable — guard stays off
    assert(Bench.priorSteady(dir, "/root/testdata/sf0.01").isEmpty)
  }

  test("priorBootId parses the fingerprint; None on pre-round-10 records") {
    val dir = java.nio.file.Files.createTempDirectory("bench_guard_boot")
    // no file at all
    assert(Bench.priorBootId(dir).isEmpty)
    // pre-round-10 record: no boot_id field -> None (guard treats the
    // comparison as same-boot, matching the old behavior)
    val old = """{"metric":"total_steady","value":12.5,"unit":"sec",""" +
      """"queries":{"a1":0.35},"sf":"/root/testdata/sf0.1","detail":"/x"}"""
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"), old.getBytes("UTF-8"))
    assert(Bench.priorBootId(dir).isEmpty)
    // round-10 record: fingerprint round-trips
    val neu = """{"metric":"total_steady","value":12.5,"unit":"sec",""" +
      """"queries":{"a1":0.35},"n_remeasured":0,"n_substituted":0,""" +
      """"boot_id":"0f21ab34-cd56-78ef-9012-34567890abcd","uptime_s":4211,""" +
      """"cross_boot_vs_prior":false,"sf":"/root/testdata/sf0.1","detail":"/x"}"""
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"), neu.getBytes("UTF-8"))
    assert(Bench.priorBootId(dir).contains("0f21ab34-cd56-78ef-9012-34567890abcd"))
  }

  test("current boot fingerprint is readable on this host (Linux)") {
    // the bench host is Linux in every environment this repo targets; if
    // either proc file goes missing the record silently degrades to
    // "unknown" and the cross-boot annotation never engages — surface that.
    // On a non-Linux host (no /proc) Bench degrades gracefully by design:
    // cancel rather than fail there, keep the surfacing on bench hosts.
    assume(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id")))
    assume(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get("/proc/uptime")))
    val b = Bench.currentBootId()
    assert(b.exists(_.matches("[0-9a-fA-F-]{8,}")), s"boot_id unreadable: $b")
    assert(Bench.uptimeSeconds().exists(_ >= 0))
  }

  test("priorSteady is empty on a missing or mangled record") {
    val dir = java.nio.file.Files.createTempDirectory("bench_guard_empty")
    val sf = "/root/testdata/sf0.1"
    assert(Bench.priorSteady(dir, sf).isEmpty)
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"),
      "{\"metric\":\"total_steady\",\"value\":1.0}".getBytes("UTF-8"))
    assert(Bench.priorSteady(dir, sf).isEmpty)
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"),
      "not json at all".getBytes("UTF-8"))
    assert(Bench.priorSteady(dir, sf).isEmpty)
  }

  test("floorBest parses the committed best floors; empty on missing/mangled") {
    val dir = java.nio.file.Files.createTempDirectory("bench_floor_best")
    assert(Bench.floorBest(dir).isEmpty)
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      "{\"cpu_ms\": 188.0, \"disk_ms\": 175.1, \"spark_ms\": 133.7}\n".getBytes("UTF-8"))
    val b = Bench.floorBest(dir)
    assert(b == Map("cpu_ms" -> 188.0, "disk_ms" -> 175.1, "spark_ms" -> 133.7))
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      "not json".getBytes("UTF-8"))
    assert(Bench.floorBest(dir).isEmpty)
  }

  test("floorBestBoot: boot-scoped baseline id parses; None on a pre-boot-aware file") {
    val dir = java.nio.file.Files.createTempDirectory("bench_floor_boot")
    assert(Bench.floorBestBoot(dir).isEmpty)
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      "{\"cpu_ms\": 188.0, \"disk_ms\": 175.1, \"spark_ms\": 133.7}\n".getBytes("UTF-8"))
    assert(Bench.floorBestBoot(dir).isEmpty, "pre-boot-aware file must re-anchor")
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      ("{\"cpu_ms\": 188.0, \"disk_ms\": 175.1, \"spark_ms\": 133.7, " +
        "\"boot_id\": \"84037e95-bf2b-4a5e-a763-197dfdf8048a\"}\n").getBytes("UTF-8"))
    assert(Bench.floorBestBoot(dir).contains("84037e95-bf2b-4a5e-a763-197dfdf8048a"))
  }

  test("floorBestPath: path-scoped anchor parses; None on a pre-path-aware file") {
    // Round-16 ADVICE: floorDir follows SPARK_GRAFT_BENCH_TMP, so a run
    // probing a faster tmp filesystem must not min-fold its disk_ms into
    // the default dir's anchor — FLOOR_BEST carries the probe path and a
    // mismatch re-anchors like a boot change. A pre-path-aware file
    // (every committed one was probed at the default docs dir) parses to
    // None and is treated as anchored at the default.
    val dir = java.nio.file.Files.createTempDirectory("bench_floor_path")
    assert(Bench.floorBestPath(dir).isEmpty)
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      ("{\"cpu_ms\": 188.0, \"disk_ms\": 175.1, \"spark_ms\": 133.7, " +
        "\"boot_id\": \"84037e95-bf2b-4a5e-a763-197dfdf8048a\"}\n").getBytes("UTF-8"))
    assert(Bench.floorBestPath(dir).isEmpty, "pre-path-aware file must parse to None")
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"),
      ("{\"cpu_ms\": 188.0, \"disk_ms\": 175.1, \"spark_ms\": 133.7, " +
        "\"boot_id\": \"84037e95-bf2b-4a5e-a763-197dfdf8048a\", " +
        "\"path\": \"/root/repo/docs\"}\n").getBytes("UTF-8"))
    assert(Bench.floorBestPath(dir).contains("/root/repo/docs"))
  }

  test("records round-trip an sf and probe path holding quotes and backslashes") {
    import scala.collection.immutable.VectorMap
    val dir = java.nio.file.Files.createTempDirectory("bench_guard_escape")
    val odd = """/data/an "odd" \sf0.1"""
    java.nio.file.Files.write(dir.resolve("BENCH_line.json"), Json.write(VectorMap(
      "metric" -> "total_steady", "queries" -> VectorMap("a1" -> 0.35),
      "boot_id" -> "0f21ab34-cd56", "sf" -> odd)).getBytes("UTF-8"))
    assert(Bench.priorSteady(dir, odd) == Map("a1" -> 0.35))
    assert(Bench.priorBootId(dir).contains("0f21ab34-cd56"))
    // a host without a readable boot_id writes "unknown": no fingerprint
    java.nio.file.Files.write(dir.resolve("FLOOR_BEST.json"), Json.write(VectorMap(
      "cpu_ms" -> 188.0, "boot_id" -> "unknown", "path" -> odd)).getBytes("UTF-8"))
    assert(Bench.floorBest(dir) == Map("cpu_ms" -> 188.0))
    assert(Bench.floorBestBoot(dir).isEmpty)
    assert(Bench.floorBestPath(dir).contains(odd))
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
