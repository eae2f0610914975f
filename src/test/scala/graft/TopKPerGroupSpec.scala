package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerGroup.topKPerGroup

/** The explicit heap top-k operator (graft.plans.TopKPerGroup.topKPerGroup):
  * equivalence against both a driver-side replay and the `row_number()`
  * window form, plan shape, the k = 1 dedup-winner idiom, and null sort
  * keys under Spark's default null ordering. */
class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = {
    val rnd = new scala.util.Random(11)
    (1 to 500).map(i =>
      (i.toLong, s"g${rnd.nextInt(7)}", rnd.nextInt(40).toDouble))
      .toDF("id", "grp", "score")
  }

  private def windowed(k: Int) = fixture
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id"))))
    .filter(col("rn") <= k)

  test("topKPerGroup equals the row_number() window form and a driver replay") {
    for (k <- Seq(1, 3, 5)) {
      val got = topKPerGroup(fixture, Seq("grp"), Seq(("score", false), ("id", true)), k)
        .orderBy(col("grp"), col("rn"))
        .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSeq
      // driver replay of row_number semantics under the same total order
      val want = fixture.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .groupBy(_._2).toSeq.flatMap { case (g, rows) =>
          rows.sortBy(r => (-r._3, r._1)).take(k).zipWithIndex
            .map { case (r, i) => (g, r._1, i + 1) }
        }.sortBy(r => (r._1, r._3))
      assert(got == want, s"k=$k got=${got.take(10)}… want=${want.take(10)}…")
      val ref = windowed(k).orderBy(col("grp"), col("rn"))
        .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSeq
      assert(got == ref, s"k=$k: heap and window forms diverge")
    }
  }

  test("rn = 1 (the dedup-winner idiom) through topKPerGroup with k = 1") {
    val df = topKPerGroup(fixture, Seq("grp"), Seq(("score", true), ("id", true)), 1)
    val got = df.collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).sortBy(_._1).toSeq
    val want = fixture.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2).toSeq.map { case (g, rows) =>
        (g, rows.minBy(r => (r._3, r._1))._1, 1)
      }.sortBy(_._1)
    assert(got == want)
  }

  test("topKPerGroup null sort keys: asc puts nulls first, desc puts nulls last") {
    val withNulls = Seq((1L, "a", Some(1.0)), (2L, "a", None), (3L, "a", Some(2.0)),
      (4L, "b", None), (5L, "b", None), (6L, "b", Some(0.5)))
      .toDF("id", "grp", "score")
    def top2(asc: Boolean) =
      topKPerGroup(withNulls, Seq("grp"), Seq(("score", asc), ("id", true)), 2)
        .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSet
    assert(top2(asc = true) == Set(("a", 2L, 1), ("a", 1L, 2), ("b", 4L, 1), ("b", 5L, 2)))
    assert(top2(asc = false) == Set(("a", 3L, 1), ("a", 1L, 2), ("b", 6L, 1), ("b", 4L, 2)))
  }

  test("operator form builds the heap plan directly, no conf, no window") {
    val df = topKPerGroup(fixture, Seq("grp"), Seq(("score", false), ("id", true)), 3)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Sort ["), p.take(2000))
    assert(p.contains("graft_top_k_rows"), p.take(2000))
    // partial aggregation happens below the shuffle: the aggregate appears
    // twice (partial + final) around one exchange
    assert("graft_top_k_rows".r.findAllIn(p).length >= 2,
      s"expected map-side partial top-k:\n${p.take(2000)}")
  }
}
