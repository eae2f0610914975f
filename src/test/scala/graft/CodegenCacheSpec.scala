package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session compiles no generated class twice: a second pass of the
  * curation family queries must be served entirely from Spark's class cache
  * (`GraftSession.CodegenCacheEntries`). With Spark's default of 100 entries
  * the pass's planning and executor copies do not fit, and every steady pass
  * recompiled most of its classes with Janino. */
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
}
