package graft

import graft.operators.{CurationOps, PrepOps}

/** Hand-computed fixtures for the corpus-model operators: the Naive Bayes
  * quality classifier (x81) and the per-source KL drift monitor (x82). */
class CorpusModelSpec extends SparkSpec {

  /** Delete batch 0's commit marker under `root`, as a crash between the
    * append and the marker leaves it, then run the replay. */
  private def replayWithoutMarker(root: String)(replay: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$root/_graft_batches/0")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false))
    replay
  }

  test("nbQualityScore: weights, prior, and scores hand-checked; generalizes past the rules") {
    // minWords=2: labels from the x45 rule conjunction.
    //   doc1 "alpha bravo candy delta echos"  n=5,u=5,dm=1 -> weak GOOD
    //   doc2 "alpha alpha alpha alpha alpha"  dm=5, 5*5>5  -> weak BAD (dom)
    //   doc3 "bravo candy delta"              n=3, 5*1>3   -> weak BAD (dom)
    // Token counts: cg(alpha)=1 cb(alpha)=5; bravo/candy/delta cg=1 cb=1;
    // echos cg=1 cb=0.  ng=5 nb=8 V=5.
    //   wt(alpha) = floor((ln(2/10)-ln(6/13))*1e6+0.5) = -836248
    //   wt(bravo/candy/delta) = floor(ln(1.3)*1e6+0.5) =  262364
    //   wt(echos) = floor(ln(2.6)*1e6+0.5)             =  955511
    // prior = floor((ln(2/5)-ln(3/5))*1e6+0.5)         = -405465
    //   doc1: -836248+3*262364+955511-405465 =  500890 -> pred GOOD
    //   doc2: 5*(-836248)-405465             = -4586705 -> pred BAD
    //   doc3: 3*262364-405465                =  381627 -> pred GOOD:
    // the classifier passes a doc the dom rule failed only for being short —
    // its tokens live in good company. That grading is the point of x81.
    val docs = docsOf(
      (1L, "alpha bravo candy delta echos", "en", "s"),
      (2L, "alpha alpha alpha alpha alpha", "en", "s"),
      (3L, "bravo candy delta", "en", "s"))
    val rows = PrepOps.nbQualityScore(docs, minWords = 2).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      (1L, true, 5L, 500890L, true),
      (2L, false, 5L, -4586705L, false),
      (3L, false, 3L, 381627L, true)), rows.mkString(","))
  }

  test("sourceDriftKl: per-source KL from the corpus mix, hand-checked") {
    // s1: tokens a,a,b (N_s=3); s2: b,c (N_s=2).  c_w: a=2 b=2 c=1, N=5.
    //   s1: a: 2*floor(ln(10/6)*1e6+.5)=2*510826; b: floor(ln(5/6)*1e6+.5)=-182322
    //       kl_micro = 1021652-182322 = 839330
    //   s2: b: floor(ln(5/4)*1e6+.5)=223144; c: floor(ln(5/2)*1e6+.5)=916291
    //       kl_micro = 1139435
    val docs = docsOf(
      (1L, "a a b", "en", "s1"),
      (2L, "b c", "en", "s2"))
    val rows = CurationOps.sourceDriftKl(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      ("s1", 3L, 2L, 839330L, 839330d / 3e6),
      ("s2", 2L, 2L, 1139435L, 1139435d / 2e6)), rows.mkString(","))
  }

  test("dsirImportanceWeights: target-vs-corpus unigram log-ratios hand-checked") {
    // target = src0.  doc1 (src0) "a b"; doc2 (src9) "a c".
    // vocab: a(ct1,cr2) b(ct1,cr1) c(ct0,cr1); nt=2 nr=4 V=3.
    //   wt(a) = floor((ln(2/5)-ln(3/7))*1e6+.5) =  -68993
    //   wt(b) = floor((ln(2/5)-ln(2/7))*1e6+.5) =  336472
    //   wt(c) = floor((ln(1/5)-ln(2/7))*1e6+.5) = -356675
    // doc1: -68993+336472 = 267479 (target-like, positive)
    // doc2: -68993-356675 = -425668 (corpus-generic, negative)
    val docs = docsOf(
      (1L, "a b", "en", "src0"),
      (2L, "a c", "en", "src9"))
    val rows = CurationOps.dsirImportanceWeights(docs).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (1L, true, 2L, 267479L, 267479d / 2e6),
      (2L, false, 2L, -425668L, -425668d / 2e6)), rows.mkString(","))
  }

  test("perplexityBuckets: distributed rank reproduces NTILE(3) exactly; short docs unscored") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 7 scored docs (n % 3 = 1: first bucket takes the extra row) + one
    // single-token doc that cannot be scored.
    val docs = docsOf(
      (1L, "a b a b", "en", "s"), (2L, "a c x", "en", "s"),
      (3L, "c c c c", "en", "s"), (4L, "a b c a", "en", "s"),
      (5L, "x y", "en", "s"), (6L, "b a b a b", "en", "s"),
      (7L, "y x y", "en", "s"), (8L, "solo", "en", "s"))
    val got = graft.operators.TextOps.perplexityBuckets(docs)
    // Reference: the real single-window NTILE over the same scores (fine on
    // a fixture; the operator exists so production never plans this window).
    val ref = graft.operators.TextOps.bigramLmScore(docs)
      .withColumn("bucket", ntile(3).over(
        Window.orderBy(col("nll_micro"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    rows.foreach { case (id, bucket, label) =>
      assert(bucket == ref.getOrElse(id, 0L), s"doc $id bucket")
      val expLabel = bucket match {
        case 1 => "head"; case 2 => "middle"; case 3 => "tail"; case _ => "unscored"
      }
      assert(label == expLabel, s"doc $id label")
    }
    assert(rows.map(_._1).toSeq == (1L to 8L), "labels the whole corpus in order")
    assert(rows.count(_._2 == 1L) == 3 && rows.count(_._2 == 2L) == 2 &&
      rows.count(_._2 == 3L) == 2 && rows.count(_._2 == 0L) == 1,
      rows.mkString(","))
  }

  // The x81 3-doc fixture has weak labels (T,F,F) and predictions (T,F,T):
  // tp=1 fp=1 fn=0 tn=1 — one disagreement, doc3 (the rules failed it only
  // for length; the classifier passes it). The evaluation trio below reads
  // off that matrix.
  private def nbFixture = docsOf(
    (1L, "alpha bravo candy delta echos", "en", "s"),
    (2L, "alpha alpha alpha alpha alpha", "en", "s"),
    (3L, "bravo candy delta", "en", "s"))

  test("nbConfusionCensus: matrix, accuracy, and Cohen's kappa hand-checked") {
    // kappa_num = 3*(tp+tn) - [(tp+fp)(tp+fn) + (fn+tn)(fp+tn)] = 6-4 = 2
    // kappa_den = 9 - 4 = 5 -> kappa = 0.4
    val r = PrepOps.nbConfusionCensus(nbFixture, minWords = 2).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 0L, 1L)),
      r.toString)
    assert(r.getDouble(4) == 2d / 3d && r.getLong(5) == 2L && r.getLong(6) == 5L
      && r.getDouble(7) == 0.4, r.toString)
  }

  test("nbRankAuc: the positive outscores both negatives -> AUC 1, u2 = 2*np*nn") {
    // scores: doc1 +500890 (pos), doc3 +381627 (neg), doc2 -4586705 (neg)
    val r = PrepOps.nbRankAuc(nbFixture, minWords = 2).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      == ((1L, 2L, 4L, 1.0)), r.toString)
  }

  test("nbCalibrationDeciles: n=3 fills NTILE(10)'s first three tiles, ramp ends positive") {
    val rows = PrepOps.nbCalibrationDeciles(nbFixture, minWords = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      (1L, 1L, 0L, -4586705L, -4586705L, 0.0),
      (2L, 1L, 0L, 381627L, 381627L, 0.0),
      (3L, 1L, 1L, 500890L, 500890L, 1.0)), rows.mkString(","))
  }

  test("nbPrfCensus: per-class P/R/F1 and macro-F1 from the confusion counts") {
    // tp=1 fp=1 fn=0 tn=1 -> p_good .5, r_good 1, f1_good 2/3;
    // p_bad 1, r_bad .5, f1_bad 2/3; macro 2/3
    val r = PrepOps.nbPrfCensus(nbFixture, minWords = 2).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((1L, 1L, 0L, 1L)), r.toString)
    assert((r.getDouble(4), r.getDouble(5), r.getDouble(6)) == ((0.5, 1.0, 2d / 3d)),
      r.toString)
    assert((r.getDouble(7), r.getDouble(8), r.getDouble(9), r.getDouble(10))
      == ((1.0, 0.5, 2d / 3d, 2d / 3d)), r.toString)
  }

  test("nbBrierScore: logistic of the integer LLR, per-class micro sums hand-checked") {
    // p = 1/(1+exp(-llr_micro/1e6)); se_micro = floor((p-y)^2*1e6+0.5):
    //   doc1 (good,  +500890): se = 142379
    //   doc2 (bad, -4586705): se = 102
    //   doc3 (bad,  +381627): se = 353151  -> bad sum 353253, brier .1766265
    val rows = PrepOps.nbBrierScore(nbFixture, minWords = 2).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (false, 2L, 353253L, 0.1766265),
      (true, 1L, 142379L, 0.142379)), rows.mkString(","))
  }

  test("nbEceCensus: micro-space identity, three singleton deciles hand-checked") {
    // p_micro: doc1 622668, doc2 10084, doc3 594265; singleton bins so
    // gap_num = p_micro (y=0) or 1e6-p_micro (y=1):
    //   ece_num = 10084 + 594265 + (1e6-622668) = 981681; mce = 0.594265
    val r = PrepOps.nbEceCensus(nbFixture, minWords = 2).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      == ((3L, 981681L, 0.327227, 0.594265)), r.toString)
  }

  test("noveltyWeightedSample: novelty-1 docs always kept, novelty-0 never") {
    // doc1 fully novel (n_novel = n_shingles): keep iff u60 < 2^60 — always.
    // doc2 repeats doc1's text exactly (n_novel = 0): keep iff u60 < 0 — never.
    val docs = docsOf(
      (1L, "a b c d", "en", "s"),
      (2L, "a b c d", "en", "s"))
    val r = CurationOps.noveltyWeightedSample(docs).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == (("en", 2L, 1L, 4L, 7L)), r.toString)
  }

  test("sourceDriftKlVsReference: smoothed reference KL + novel-term alarm, hand-checked") {
    // current s1 "a a b c" (N_s=4); reference "a b b b" (c_ref: a=1 b=3,
    // N_ref=4); V = |{a,b,c}| = 3.
    //   a: ln((2*7)/(4*2)) -> wq  559616, term  1119232
    //   b: ln((1*7)/(4*4)) -> wq -826679, term  -826679
    //   c: novel, ln((1*7)/(4*1)) -> wq 559616
    // kl_micro = 852169; novel_terms = 1.
    val cur = docsOf((1L, "a a b c", "en", "s1"))
    val ref = docsOf((9L, "a b b b", "en", "ref"))
    val r = CurationOps.sourceDriftKlVsReference(cur, ref).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getDouble(5)) == (("s1", 4L, 3L, 1L, 852169L, 852169d / 4e6)), r.toString)
  }

  test("driftMonitorBatch: per-batch KL vs the static reference; replay is a no-op") {
    import org.apache.spark.sql.functions._
    val ref = docsOf((9L, "a b b b", "en", "ref"))
    val docs = docsOf(
      (1L, "a a b c", "en", "s1"),
      (2L, "b b a", "en", "s2"))
    val tmp = tempDir("drift_log").toString + "/log"
    val sink = graft.streaming.CorpusStream.driftMonitorBatch(ref, tmp)(_, _)
    // two micro-batches, one source each
    sink(docs.filter(col("doc_id") === 1L), 0L)
    sink(docs.filter(col("doc_id") === 2L), 1L)
    def log() = spark.read.parquet(tmp)
    // each logged batch equals the batch operator over that slice
    (0L to 1L).foreach { b =>
      val got = log().filter(col("batch_id") === b).drop("batch_id")
        .collect().map(_.toString).sorted.toSeq
      val exp = graft.operators.CurationOps
        .sourceDriftKlVsReference(docs.filter(col("doc_id") === b + 1), ref)
        .collect().map(_.toString).sorted.toSeq
      assert(got == exp, s"batch $b")
    }
    // marker-guarded replay
    val n = log().count()
    sink(docs.filter(col("doc_id") === 1L), 0L)
    assert(log().count() == n, "replayed batch must be a no-op")
    // a crash before the marker: the replay converges to one copy
    replayWithoutMarker(tmp)(sink(docs.filter(col("doc_id") === 1L), 0L))
    assert(log().count() == n, "a replay without its marker must not duplicate rows")
    assert(log().filter(col("batch_id") === 0L).drop("batch_id").collect().map(_.toString)
      .sorted.toSeq == graft.operators.CurationOps
      .sourceDriftKlVsReference(docs.filter(col("doc_id") === 1L), ref)
      .collect().map(_.toString).sorted.toSeq)
  }

  test("scorecardBatch: per-batch x98 rows keyed by batch_id; replay is a no-op") {
    import org.apache.spark.sql.functions._
    val docs = docsOf(
      (1L, "alpha bravo candy delta echos", "en", "a"),
      (2L, "alpha bravo candy delta echos", "en", "a"),
      (3L, "bravo candy delta", "en", "b"))
    val tmp = tempDir("scorecard_log").toString + "/log"
    val sink = graft.streaming.CorpusStream.scorecardBatch(tmp, minWords = 2)(_, _)
    sink(docs.filter(col("doc_id") <= 2L), 0L)
    sink(docs.filter(col("doc_id") === 3L), 1L)
    def log() = spark.read.parquet(tmp)
    // batch 0: source a, two identical kept docs -> dup_docs 1, kept 2
    val b0 = log().filter(col("batch_id") === 0L).collect().head
    assert((b0.getString(0), b0.getLong(1), b0.getLong(2), b0.getLong(4))
      == (("a", 2L, 1L, 2L)), b0.toString)
    // batch 1: source b, one dom-failing doc
    val b1 = log().filter(col("batch_id") === 1L).collect().head
    assert((b1.getString(0), b1.getLong(1), b1.getLong(2), b1.getLong(4))
      == (("b", 1L, 0L, 0L)), b1.toString)
    val n = log().count()
    sink(docs.filter(col("doc_id") <= 2L), 0L)
    assert(log().count() == n, "replayed batch must be a no-op")
    // a crash before the marker: the replay converges to one copy
    replayWithoutMarker(tmp)(sink(docs.filter(col("doc_id") <= 2L), 0L))
    assert(log().count() == n, "a replay without its marker must not duplicate rows")
    assert(log().filter(col("batch_id") === 0L).collect().toSeq == Seq(b0))
  }

  test("sourceDriftKl: a source matching the corpus distribution has zero drift") {
    // Identical texts -> every per-token ratio is 1, ln=0, wq=floor(0.5)=0.
    val docs = docsOf(
      (1L, "x y z", "en", "s1"),
      (2L, "x y z", "en", "s2"))
    val rows = CurationOps.sourceDriftKl(docs).collect()
    assert(rows.forall(r => r.getLong(3) == 0L && r.getDouble(4) == 0.0),
      rows.mkString(","))
  }
}
