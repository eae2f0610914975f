package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

class SimilarityIndexSpec extends SparkSpec {

  test("persisted IVF index prunes to probed cells and matches the inline ANN result") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val tmp = tempDir("graft_ivf").toString + "/index"
    SimilarityOps.buildIvfIndex(emb, tmp, centroidMod = 40)
    val index = spark.read.parquet(tmp)
    val nCells = index.select("cid").distinct().count()
    assert(nCells > 3, s"need more cells than probes, got $nCells")

    val cents = spark.read.parquet(tmp + "_centroids")
    val qvec = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val viaIndex = SimilarityOps.queryIvfIndex(index, cents, qvec, 0L, k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = SimilarityOps.annIvf(emb, 0L, 10, 40, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == inline, "persisted index must reproduce the inline IVF result")

    // pruning: a 3-cell probe filter lists only 3 of the index partitions
    val probed = index.filter(col("cid").isin(0L, 40L, 80L))
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.length == 3, s"expected 3 pruned cells, got ${selected.length} of $nCells")
  }

  test("appendIvfIndex: build-then-append equals full rebuild; pruning and queries intact") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    val b1 = emb.filter(col("vec_id") % 2 =!= 0)
    val base = tempDir("graft_ivf_app").toString
    val (inc, full) = (base + "/inc", base + "/full")
    // centroids from the FULL id space (vec_id % 40 == 0 picks even ids, all
    // in batch 0) so both paths share one centroid table
    SimilarityOps.buildIvfIndex(b0, inc, centroidMod = 40)
    SimilarityOps.appendIvfIndex(b1, inc)
    SimilarityOps.buildIvfIndex(emb, full, centroidMod = 40)
    val read = (p: String) => spark.read.parquet(p)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong)).toSet
    assert(read(inc) == read(full), "append must equal rebuild row-for-row")
    // queries over the appended index match the inline ANN on the union
    val cents = spark.read.parquet(inc + "_centroids")
    val qvec = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val viaInc = SimilarityOps.queryIvfIndex(
        spark.read.parquet(inc), cents, qvec, 0L, k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = SimilarityOps.annIvf(emb, 0L, 10, 40, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaInc == inline, "appended index must reproduce the inline result")
  }

  test("ivfIngestBatch: streamed store equals batch build; replayed batch is a no-op") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val base = tempDir("graft_ivf_stream").toString
    val (st, full) = (base + "/st", base + "/full")
    SimilarityOps.writeIvfCentroids(emb, st, 40)
    val sink = graft.streaming.CorpusStream.ivfIngestBatch(st) _
    def b(i: Int) = emb.filter(col("vec_id") % 3 === i)
    sink(b(0), 0L); sink(b(1), 1L)
    sink(b(1), 1L) // replayed delivery must not double-insert
    sink(b(2), 2L)
    SimilarityOps.buildIvfIndex(emb, full, centroidMod = 40)
    val read = (p: String) => spark.read.parquet(p)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong)).toSeq
    val streamed = read(st)
    assert(streamed.size == streamed.toSet.size, "replay double-inserted vectors")
    assert(streamed.toSet == read(full).toSet, "streamed store must equal batch build")
    // queries against the streamed store match the inline ANN over the union
    val qvec = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val viaStream = SimilarityOps.queryIvfIndexLive(spark, st, qvec, 0L, 10, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = SimilarityOps.annIvf(emb, 0L, 10, 40, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaStream == inline, "streamed index must reproduce the inline result")
  }

  test("IVF recall census: probing every cell gives recall exactly 1.0; fewer probes never more") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val nCells = emb.filter(col("vec_id") % 40 === 0).count().toInt
    // probing EVERY cell makes the IVF ranking identical to the exact one
    val full = SimilarityOps.ivfRecallCensus(emb, k = 5, centroidMod = 40,
      nProbe = nCells, queryMod = 29).collect().head
    val nQueries = emb.filter(col("vec_id") % 29 === 0).count()
    assert(full.getLong(0) == nQueries)
    assert(full.getLong(1) == 5L * nQueries, s"full probe must find every neighbor: $full")
    assert(full.getLong(2) == 5L && full.getDouble(3) == 1.0, full.toString)
    // a 1-probe census can only do worse, and stays within bounds
    val one = SimilarityOps.ivfRecallCensus(emb, k = 5, centroidMod = 40,
      nProbe = 1, queryMod = 29).collect().head
    assert(one.getLong(1) <= full.getLong(1))
    assert(one.getDouble(3) >= 0.0 && one.getDouble(3) <= 1.0)
  }

  test("shipped IVF defaults reach production recall (>=0.9) on the gated fixture") {
    graft.functions.GraftFunctions.register(spark)
    // sf0.01 is what the driver gate runs; (mod=40, nProbe=12) is the
    // configuration the r6 sweep shipped (measured 0.9722 here) — this
    // pins it so a future default change must re-clear the bar. The
    // trained-quantizer path must also clear it at the same probe count
    // with matched cell count (13 = the %40 cell count at this SF).
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.01", "embeddings")
    val shipped = SimilarityOps.ivfRecallCensus(emb).collect().head
    assert(shipped.getDouble(3) >= 0.9,
      s"shipped defaults must reach 0.9 recall on sf0.01: $shipped")
    val trained = SimilarityOps.ivfRecallCensusWith(emb, 10,
      SimilarityOps.trainCentroids(emb, 13), nProbe = 12, queryMod = 29)
      .collect().head
    assert(trained.getDouble(3) >= 0.9,
      s"trained k=13 nProbe=12 must reach 0.9 recall on sf0.01: $trained")
  }

  test("trained centroids drive the exact near-dup join end-to-end; cells stay balanced") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val k = 16
    val trained = SimilarityOps.trainCentroids(emb, k, seed = 42L)
    // x4's shape with the trained quantizer: the exactness guarantee is
    // centroid-independent, so the pair set must be identical to the
    // deterministic mod-subset default the oracle gates
    val got = SimilarityOps.embeddingNearDupWith(emb, 0.4, trained)
      .collect().map(_.toString).toSeq
    val want = SimilarityOps.embeddingNearDup(emb, 0.4, 40)
      .collect().map(_.toString).toSeq
    assert(got == want, "trained centroids must not change the exact pair set")
    // cell balance, measured through the persisted index the 100 TB path
    // would read: every trained cell in use, no cell dominating
    val tmp = tempDir("graft_ivf_bal").toString + "/index"
    SimilarityOps.buildIvfIndexWith(emb, tmp, trained)
    val sizes = spark.read.parquet(tmp).groupBy(col("cid")).count()
      .collect().map(_.getLong(1)).toSeq
    assert(sizes.length == k, s"every trained cell should be in use: got ${sizes.length} of $k")
    val ratio = sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
    assert(ratio <= 3.0, s"trained cells skewed: max/mean = $ratio, sizes = $sizes")
  }

  test("k-means||-trained centroids build a pruned index; full probe equals exhaustive top-k") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val k = 8
    val cents = SimilarityOps.trainCentroids(emb, k, seed = 42L)
    assert(cents.count() == k)
    val tmp = tempDir("graft_ivf_km").toString + "/index"
    SimilarityOps.buildIvfIndexWith(emb, tmp, cents)
    val index = spark.read.parquet(tmp)
    val centsBack = spark.read.parquet(tmp + "_centroids")
    val qvec = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    // probing 2 of 8 trained cells lists exactly 2 partitions
    val twoCells = centsBack.limit(2).collect().map(_.getLong(0))
    val probed = index.filter(col("cid").isin(twoCells.toIndexedSeq: _*))
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val selected = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.length == 2, s"expected 2 pruned cells, got ${selected.length}")
    // with nProbe = k every cell is probed: IVF degenerates to exhaustive
    // search and must reproduce the exact top-k bit-for-bit
    val full = SimilarityOps.queryIvfIndex(index, centsBack, qvec, 0L, k = 10, nProbe = k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilarityOps.topkCosine(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, "full-probe IVF must equal exhaustive top-k")
  }

  test("gramTopK: upper-triangle sums by hand, including a negative entry") {
    import spark.implicits._
    // vectors (1,1), (1,1), (1,-1): G_12 = 1e12 + 1e12 − 1e12 = 1e12 →
    // dot_micro = 1e6
    val emb = Seq(
      (0L, Array(1.0f, 1.0f), 0), (1L, Array(1.0f, 1.0f), 0),
      (2L, Array(1.0f, -1.0f), 1)).toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.gramTopK(emb, 5).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((1, 2, 1000000L)), r.mkString(","))
    // all-negative correlation: truncation toward zero on the negative sum
    val neg = Seq((0L, Array(1.0f, -1.0f), 0), (1L, Array(1.0f, -1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rn = SimilarityOps.gramTopK(neg, 5).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getLong(2))).toSeq
    assert(rn == Seq((1, 2, -2000000L)), rn.mkString(","))
  }

  test("labelCentroidDrift: orthogonal two-label fixture — exact fixed-point distance") {
    import spark.implicits._
    // label 0 ≡ (1,0), label 1 ≡ (0,1); global centroid (0.5, 0.5) →
    // true dist² = 0.5 → 5e11 in micro² units, exactly, for both labels
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.labelCentroidDrift(emb).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((0, 2L, 500000000000L), (1, 2L, 500000000000L)),
      r.mkString(","))
  }

  test("hardNegatives: equals the window-ranked brute force; labels always differ") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
    val got = SimilarityOps.hardNegatives(emb, queryMod = 50, queryCap = 5000L, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // brute force through a plain window over the same scored relation
    val q = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 5000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"), col("label").as("qlab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    val brute = emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlab") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (round(call_function("cosine_f32", col("qvec"), col("embedding")).cast("double")
          * lit(1e6)) / lit(1e6)).cast("float").cast("double").as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .orderBy(col("q_id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == brute, s"heap top-k diverged from window brute force")
    // every negative's label differs from its query's label
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (qid, vid, _, _) =>
      assert(labels(qid) != labels(vid), s"query $qid got same-label negative $vid")
    }
  }

}
