package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/**
 * The bench materialization contract: timing a query by `.count()` lets the
 * optimizer DELETE the work being measured — counting needs only
 * cardinality, so ColumnPruning empties a global aggregate's expression
 * list (the scan collapses to a zero-column footer read) and drops final
 * computed projections, and EliminateSorts removes result ordering. Found
 * in round 10 via the resource tally: e1's "scan" read 3.4 KB of a 10 MB
 * table under count(). graft.Bench therefore materializes through the noop
 * sink, which requires every output column. This spec pins both halves:
 * the pruning exists (so nobody "simplifies" the bench back to count())
 * and the noop write really executes the pruned work.
 */
class BenchMaterializationSpec extends AnyFunSuite with TempDirs {

  test("count() prunes a global aggregate's expressions; noop write does not") {
    val spark = SparkSpec.spark
    import spark.implicits._

    // A parquet table large enough that "read the text column" is clearly
    // distinguishable from "read the footer" in task input metrics.
    val dir = tempDir("bench_mat").toString
    (1 to 20000).map(i => (i.toLong, s"document text body $i " * 10))
      .toDF("doc_id", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(dir)

    def agged = spark.read.parquet(dir).agg(
      count(lit(1)).as("total"),
      countDistinct(md5(lower(trim(col("text"))).cast("binary"))).as("distinct_norm"))

    // Half 1: the optimizer really does delete the aggregate under count().
    val countedPlan = agged.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!countedPlan.contains("md5"),
      s"count() no longer prunes the inner aggregate — revisit the bench comment:\n$countedPlan")

    // Half 2: the bench's noop-write materialization executes it. The
    // witness is SHUFFLE bytes — the distinct-hash exchange only exists if
    // the md5 aggregation ran (~34 B x 20k rows here vs ~46 B for the
    // pruned count() plan's empty-row exchange). Scan input bytes are NOT
    // usable as the witness: Hadoop's local-fs statistics under-count the
    // vectorized reader's positioned reads, which is also why the
    // `input_mb` resource counter is documented as best-effort.
    val tally = new Bench.ResourceTally
    spark.sparkContext.addSparkListener(tally)
    try {
      tally.settle()
      val base = tally.snapshot()
      agged.groupBy().count().count()
      tally.settle()
      val countedShuffle = tally.snapshot()(0) - base(0)

      val base2 = tally.snapshot()
      agged.write.format("noop").mode("overwrite").save()
      tally.settle()
      val noopShuffle = tally.snapshot()(0) - base2(0)

      assert(noopShuffle > 256 * 1024,
        s"noop write must exchange the distinct hashes (shuffled $noopShuffle bytes)")
      assert(noopShuffle > 100 * math.max(countedShuffle, 1),
        s"noop ($noopShuffle B) must shuffle far more than the pruned count() path ($countedShuffle B)")
    } finally spark.sparkContext.removeSparkListener(tally)
  }
}
