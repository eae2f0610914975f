package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Int8 embedding quantization (x73): code range, error bound, edge cases,
  * and the quality of the quantized similarity path. */
class QuantizationSpec extends SparkSpec {

  private def embOf(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("codes span [-127,127], scale is max-abs, zero vector quantizes to zeros") {
    val e = embOf(
      (1L, Seq(1f, -1f, 0.5f, -0.25f)),
      (2L, Seq(0f, 0f, 0f, 0f)),      // zero vector: no NaN, all-zero codes
      (3L, Seq(-3f, 1.5f, 0f, 2.9999f)))
    val rows = SimilarityOps.quantizeEmbeddings(e).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Float]("scale"), r.getSeq[Byte](r.fieldIndex("q")))).toMap
    // -0.25 -> -31.75 + 0.5 = -31.25 -> floor -32 (round-half-up toward +inf)
    assert(rows(1L)._1 == 1f && rows(1L)._2 == Seq[Byte](127, -127, 64, -32))
    assert(rows(2L)._1 == 0f && rows(2L)._2 == Seq[Byte](0, 0, 0, 0))
    assert(rows(3L)._1 == 3f)
    assert(rows(3L)._2.head == -127)
    rows.values.foreach { case (_, q) => q.foreach(b => assert(b >= -127 && b <= 127)) }
  }

  test("dequantization error is bounded by scale/254 per coordinate") {
    val rnd = new scala.util.Random(99)
    val e = embOf((1L to 50L).map(i =>
      (i, (0 until 16).map(_ => (rnd.nextFloat() - 0.5f) * 4f))): _*)
    val back = SimilarityOps.quantizeEmbeddings(e)
      .select(col("vec_id"), col("scale"),
        SimilarityOps.dequantized(col("q"), col("scale")).as("d"))
      .join(e, Seq("vec_id"))
      .collect()
    back.foreach { r =>
      val s = r.getAs[Float]("scale")
      val d = r.getSeq[Float](r.fieldIndex("d"))
      val o = r.getSeq[Float](r.fieldIndex("embedding"))
      d.zip(o).foreach { case (a, b) =>
        assert(math.abs(a - b) <= s / 254f + 1e-6f,
          s"vec ${r.getLong(0)}: |$a - $b| > ${s / 254f}")
      }
    }
  }

  test("quantized IVF index: smaller on disk, same probes, near-identical top-k") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val base = tempDir("graft_qivf").toString
    SimilarityOps.buildIvfIndex(emb, s"$base/f", centroidMod = 40)
    SimilarityOps.buildIvfIndexQuantized(emb, s"$base/q", centroidMod = 40)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(new java.io.File(p))
    }
    assert(bytes(s"$base/q") < bytes(s"$base/f"),
      s"quantized index should be smaller: ${bytes(s"$base/q")} vs ${bytes(s"$base/f")}")
    val cents = spark.read.parquet(s"$base/f_centroids")
    val qvec = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val fTop = SimilarityOps.queryIvfIndex(
        spark.read.parquet(s"$base/f"), cents, qvec, 0L, 10, 3)
      .collect().map(_.getLong(0)).toSet
    val qTop = SimilarityOps.queryIvfIndexQuantized(spark, s"$base/q", qvec, 0L, 10, 3)
      .collect().map(_.getLong(0)).toSet
    assert(fTop.intersect(qTop).size >= 8, s"float=$fTop quant=$qTop")
  }

  test("quantized top-k closely tracks the exact float top-k on real embeddings") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = SimilarityOps.topkCosine(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val quant = SimilarityOps.topkCosineQuantized(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    // int8 over 64 dims: expect near-total agreement on a top-10
    assert(exact.intersect(quant).size >= 8,
      s"quantized top-k lost too much: exact=$exact quant=$quant")
  }
}
