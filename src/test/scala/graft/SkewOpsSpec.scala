package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewOps

class SkewOpsSpec extends SparkSpec {

  test("salted join returns exactly the plain join's rows under heavy skew") {
    import spark.implicits._
    // 90% of fact rows share one hot key
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 50 else 7L, i.toLong))
      .toDF("k", "v")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select(col("k"), col("v"), col("name")).collect().map(_.toString).sorted
    val salted = SkewOps.saltedJoin(fact, dim, "k", "dk", saltBuckets = 8)
      .select(col("k"), col("v"), col("name")).collect().map(_.toString).sorted
    assert(salted.length == plain.length)
    assert(salted.toSeq == plain.toSeq)
  }

  test("bloom-filtered join is row-identical to the plain join at any fpp") {
    import spark.implicits._
    val fact = (1L to 3000L).map(i => (i % 500L, i)).toDF("fk", "v")
    val dim = (0L until 500L).filter(_ % 7 == 0).map(k => (k, s"d$k")).toDF("dk", "name")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select(col("fk"), col("v"), col("name")).collect().map(_.toString).sorted
    // fpp 0.5: a deliberately terrible sketch — false positives must still
    // die in the exact join, leaving the result bit-identical
    for (fpp <- Seq(0.5, 0.03)) {
      val got = SkewOps.bloomFilteredJoin(fact, dim, "fk", "dk", fpp)
        .select(col("fk"), col("v"), col("name")).collect().map(_.toString).sorted
      assert(got.toSeq == plain.toSeq, s"fpp=$fpp")
    }
  }

  test("bloom prefilter sits at the fact scan, below the join exchange") {
    import spark.implicits._
    // file-backed fact: a LocalRelation would let ConvertToLocalRelation
    // evaluate the probe at optimization time and hide it from the plan
    val dir = tempDir("graft_bloomjoin").toString
    (1L to 1000L).map(i => (i % 100L, i)).toDF("fk", "v")
      .write.mode("overwrite").parquet(dir + "/fact")
    val fact = spark.read.parquet(dir + "/fact")
    val dim = (0L until 100L by 9L).map(k => (k, k * 2)).toDF("dk", "w")
    val p = SkewOps.bloomFilteredJoin(fact, dim, "fk", "dk")
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_contains_long"), p.take(1500))
  }

  test("skew profile surfaces the hot key first") {
    import spark.implicits._
    val fact = (1 to 1000).map(i => (if (i % 5 == 0) i.toLong % 3 else 42L, i))
      .toDF("k", "v")
    val top = SkewOps.keySkewProfile(fact, col("k")).collect()
    assert(top.head.get(0) == 42L)
    assert(top.head.getLong(1) == 800L)
  }
}
