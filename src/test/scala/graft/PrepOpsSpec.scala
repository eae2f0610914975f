package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PrepOps

/** Training-prep operators: redaction (on a REAL-PII fixture — the gated
  * corpus cannot contain PII, so the pattern machinery is proven here),
  * quality rules, split assignment, sequence packing, vocabulary. */
class PrepOpsSpec extends SparkSpec {

  private def prepDocs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "lang", "text")
      .withColumn("source", concat(lit("src"), col("doc_id") % 3))
      .withColumn("n_chars", length(col("text")))
  }

  test("redact removes emails, phones, and IPv4s; clean text keeps no match") {
    val d = prepDocs(
      (1L, "en", "contact bob.smith+x@example.co.uk or call 415-555-1234 today"),
      (2L, "en", "server at 10.0.255.7 responded; backup 192.168.1.1 did not"),
      (3L, "en", "email a@b.io phone 800.555.0199 ip 8.8.8.8 all in one doc"),
      (4L, "en", "nothing sensitive here at all"))
    val out = PrepOps.redact(d).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "contact <PII> or call <PII> today")
    assert(out(2L) == "server at <PII> responded; backup <PII> did not")
    assert(out(3L) == "email <PII> phone <PII> ip <PII> all in one doc")
    assert(out(4L) == "nothing sensitive here at all")
    // the cleaned corpus has zero residual matches of any default pattern
    val residual = PrepOps.redact(d).select(
      PrepOps.PiiPatterns.map { case (n, re) =>
        sum(size(regexp_extract_all(col("text"), lit(re), lit(0)))).as(n)
      }: _*).collect()(0)
    PrepOps.PiiPatterns.indices.foreach(i => assert(residual.getLong(i) == 0L))
  }

  test("redactCensus counts hits, touched docs, and the exact char delta") {
    val d = prepDocs(
      (1L, "en", "a@b.io and c@d.org wrote"), // 2 emails, 18 chars removed, 10 added
      (2L, "en", "clean"))
    val r = PrepOps.redactCensus(d).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("docs") == 2L)
    assert(row.getAs[Long]("hits") == 2L)
    assert(row.getAs[Long]("docs_touched") == 1L)
    val before = "a@b.io and c@d.org wrote".length + "clean".length
    val after = "<PII> and <PII> wrote".length + "clean".length
    assert(row.getAs[Long]("chars_before") == before.toLong)
    assert(row.getAs[Long]("chars_after") == after.toLong)
  }

  test("quality rules each reject their targeted pathology") {
    val good = (1 to 40).map(i => s"word$i").mkString(" ") // 40 distinct 5-6 char words
    val d = prepDocs(
      (1L, "en", good),
      (2L, "en", "too short"), // fails wc
      (3L, "en", (1 to 40).map(_ => "x y").mkString(" ")), // mean word len 1: fails wlen
      (4L, "en", (1 to 40).map(_ => "same same").mkString(" ")), // fails ttr + dom
      (5L, "en", ("unique" +: (1 to 39).map(i => s"w$i")).mkString(" ") +
        (" filler" * 15))) // 'filler' 15/55 > 20%: fails dom
    val kept = PrepOps.qualityFilter(d, minWords = 30, maxWords = 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    val c = PrepOps.qualityFilterCensus(d, 30, 1000).collect()(0)
    assert(c.getAs[Long]("docs") == 5L)
    assert(c.getAs[Long]("kept") == 1L)
    assert(c.getAs[Long]("fail_wc") == 1L)
    assert(c.getAs[Long]("fail_wlen") >= 1L)
    assert(c.getAs[Long]("fail_ttr") >= 1L)
    assert(c.getAs[Long]("fail_dom") >= 2L)
    // census and filter agree on the surviving token mass
    val keptToks = PrepOps.qualityFilter(d, 30, 1000)
      .agg(sum(size(split(lower(col("text")), " ")))).collect()(0).getLong(0)
    assert(c.getAs[Long]("kept_tokens") == keptToks)
  }

  test("splitAssign is deterministic, complete, and append-stable") {
    val d = prepDocs((0L until 200L).map(i => (i, "en", s"doc number $i")): _*)
    val s1 = PrepOps.splitAssign(d).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = PrepOps.splitAssign(d).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(s1.size == 200)
    // roughly 80/10/10 (md5 buckets: generous tolerance, determinism is the contract)
    val train = s1.values.count(_ == "train")
    assert(train > 120 && train < 200, s"train=$train")
    // append stability: the first 100 docs keep their assignment when 100 more arrive
    val first = PrepOps.splitAssign(prepDocs((0L until 100L).map(i => (i, "en", s"doc number $i")): _*))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    first.foreach { case (id, sp) => assert(s1(id) == sp) }
  }

  test("padWasteCensus: ceil-division sequences, exact pad accounting") {
    // seqLen 4: 3 toks → 1 seq pad 1; 4 → 1 seq pad 0; 9 → 3 seqs pad 3
    val d = prepDocs(
      (1L, "en", "a b c"), (2L, "en", "a b c d"),
      (3L, "en", "a b c d e f g h i"))
    val r = graft.operators.PrepOps.padWasteCensus(d, 4L).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    // tokens 16, seqs 5, pad 4, util = 16000/20 = 800
    assert(r == Seq(("en", 3L, 16L, 5L, 4L, 800L)), r.mkString(","))
  }

  test("seqPack preserves totals, packs contiguously, and bounds pack size") {
    val d = prepDocs((0L until 300L).map(i =>
      (i, "en", (0 to (i % 37).toInt).map(j => s"t$j").mkString(" "))): _*)
    val budget = 64L
    val packed = PrepOps.seqPack(d, budget, bucketWidth = 32L).collect()
    assert(packed.length == 300)
    val byPack = packed.groupBy(_.getAs[Long]("pack_id"))
    val maxTok = packed.map(_.getAs[Int]("toks").toLong).max
    // pack ids are 0..max contiguous
    val ids = byPack.keys.toSeq.sorted
    assert(ids == (0L to ids.last))
    // no pack exceeds budget + (largest doc - 1): a doc is never split
    byPack.foreach { case (_, rows) =>
      val t = rows.map(_.getAs[Int]("toks").toLong).sum
      assert(t <= budget + maxTok - 1, s"pack too large: $t")
    }
    // every doc keeps its token count; totals preserved
    assert(packed.map(_.getAs[Int]("toks").toLong).sum ==
      d.agg(sum(size(split(lower(col("text")), " ")))).collect()(0).getLong(0))
    // the census is exactly the per-pack rollup of the assignment
    val census = PrepOps.seqPackCensus(d, budget).collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("docs"), r.getAs[Long]("tokens")))
    val expected = byPack.toSeq.map { case (p, rows) =>
      (p, rows.length.toLong, rows.map(_.getAs[Int]("toks").toLong).sum)
    }.sortBy(_._1)
    assert(census.toSeq == expected)
  }

  test("splitLeakage counts exactly the planted train→test copy") {
    // learn the deterministic split for ids 0..99, then plant one leak:
    // a TRAIN doc carrying a TEST doc's exact text (10 tokens → 8 shared
    // trigrams ≥ minShared=5); every other doc is trigram-disjoint
    val probe = prepDocs((0L until 100L).map(i => (i, "en", s"p$i")): _*)
    val splits = PrepOps.splitAssign(probe).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val testId = splits.collectFirst { case (id, "test") => id }.get
    val trainIds = splits.collect { case (id, "train") => id }.toSeq.sorted
    val leaked = (1 to 10).map(j => s"shared$j").mkString(" ")
    val d = prepDocs(splits.keys.toSeq.sorted.map { id =>
      val text =
        if (id == testId || id == trainIds.head) leaked
        else (1 to 10).map(j => s"u${id}w$j").mkString(" ")
      (id, "en", text)
    }: _*)
    val census = PrepOps.splitLeakage(d, 80, 10, minShared = 5).collect()
    assert(census.length == 1)
    assert(census(0).getAs[Long]("n_docs") == trainIds.length.toLong)
    assert(census(0).getAs[Long]("n_contaminated") == 1L)
    assert(census(0).getAs[Long]("max_overlap") == 8L)
  }

  test("stratifiedSample: exact per-group size, deterministic, rows pass through") {
    val d = prepDocs(((0L until 30L).map(i => (i, "en", s"en doc $i")) ++
      (30L until 38L).map(i => (i, "de", s"de doc $i")) ++
      (38L until 41L).map(i => (i, "fr", s"fr doc $i"))): _*)
    val s1 = PrepOps.stratifiedSample(d, 5)
    assert(s1.columns.toSeq == d.columns.toSeq)
    val counts = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("en" -> 5L, "de" -> 5L, "fr" -> 3L)) // min(k, group)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = PrepOps.stratifiedSample(d, 5).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(ids1 == ids2, "sample must be deterministic")
    assert(s1.join(d, Seq("doc_id"), "left_anti").isEmpty, "no invented rows")
  }

  test("streaming prep ingest equals the batch pipeline; replays are no-ops") {
    import graft.streaming.CorpusStream
    val d = prepDocs((0L until 120L).map(i =>
      (i, "en", (0 to (i % 50).toInt).map(j => s"word$j").mkString(" ") +
        (if (i % 7 == 0) " mail me at a@b.io now" else ""))): _*)
      .select("doc_id", "lang", "text") // the redact output shape
    val batchExpected = PrepOps.splitAssign(
        PrepOps.qualityFilter(PrepOps.redact(d), 30, 1000), 80, 10)
      .collect().map(_.toString).sorted.toSeq
    val tmp = tempDir("prep_stream").toString + "/out"
    val sink = CorpusStream.prepIngestBatch(tmp)(_, _)
    for (i <- 0L to 3L) sink(d.filter(col("doc_id") % 4 === i), i)
    def onDisk() = spark.read.parquet(tmp)
      .select("doc_id", "lang", "text", "split")
    assert(onDisk().collect().map(_.toString).sorted.toSeq == batchExpected,
      "streamed union must equal the batch pipeline")
    // replay of a committed batch is marker-guarded
    val n = onDisk().count()
    sink(d.filter(col("doc_id") % 4 === 1), 1L)
    assert(onDisk().count() == n)
    // split is a physical partition of the curated store
    assert(onDisk().filter(col("split") === "train").count() > 0)
  }

  test("vocabTopK ranks by document frequency with deterministic ties") {
    val d = prepDocs(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "alpha beta beta"),
      (3L, "en", "alpha delta"))
    val top = PrepOps.vocabTopK(d, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // alpha df=3; beta df=2 tf=3; gamma/delta df=1 tf=1 → tie broken by word asc
    assert(top.toSeq == Seq(("alpha", 3L, 3L), ("beta", 2L, 3L), ("delta", 1L, 1L)))
  }

  test("sourceScorecard: per-source dup/keep/token census hand-checked") {
    // src a: two copies of a rule-passing doc (dup_docs 1, both kept) plus a
    // dom-rule failure; src b: one short dom-failing doc.
    val docs = docsOf(
      (1L, "alpha bravo candy delta echos", "en", "a"),
      (2L, "alpha bravo candy delta echos", "en", "a"),
      (3L, "alpha alpha alpha alpha alpha", "en", "a"),
      (4L, "bravo candy delta", "en", "b"))
    val rows = PrepOps.sourceScorecard(docs, minWords = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(6), r.getDouble(7)))
    assert(rows.toSeq == Seq(
      ("a", 3L, 1L, 2L, 15L, 5.0),
      ("b", 1L, 0L, 0L, 3L, 3.0)), rows.mkString(","))
  }

  test("ragChunkCensus closed forms equal a per-doc sliding-window enumeration") {
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val (win, stride) = (16, 12)
    val got = PrepOps.ragChunkCensus(docs, win, stride).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val lens = docs.select(col("lang"), size(split(lower(col("text")), " ")))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val agg = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
    lens.foreach { case (lang, n) =>
      // literal enumeration: starts at 0, stride, ... while the previous
      // chunk did not already reach the end
      val starts = if (n <= win) Seq(0)
        else 0 to (n - win + stride - 1) / stride * stride by stride
      val clens = starts.map(s0 => math.min(win, n - s0))
      val (d, c, m, sh) = agg.getOrElse(lang, (0L, 0L, 0L, 0L))
      agg(lang) = (d + 1, c + clens.length, m + clens.map(_.toLong).sum,
        sh + clens.count(_ < win))
    }
    val want = agg.toSeq.map { case (l, (d, c, m, sh)) => (l, d, c, m, sh) }.sortBy(_._1)
    assert(got == want, s"got=$got want=$want")
    // overlap sanity: consecutive chunks share win - stride tokens, so the
    // mass always meets or exceeds the raw token mass for multi-chunk docs
    assert(got.map(_._4).sum >= lens.map(_._2.toLong).sum)
  }

  test("sourceCapCensus: prefix rule exact, cap respected, census consistent") {
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val cap = 300L
    val got = PrepOps.sourceCapCensus(docs, cap).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (src, d, tot, kd, kt) =>
      assert(kd <= d && kt <= tot, src)
      assert(kt <= cap, s"$src kept $kt tokens over the $cap cap")
    }
    assert(got.exists(r => r._4 < r._2), "the cap must cut something at 300")
    // brute-force one source: kept = the (md5, id)-ordered prefix within cap
    val (src, _, _, kd, kt) = got.maxBy(_._2)
    graft.functions.GraftFunctions.register(spark)
    val ordered = docs.filter(col("source") === src)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("t"),
        graft.functions.GraftFunctions.md5PrefixLong(
          col("doc_id").cast("string"), 8).as("hk"))
      .orderBy(col("hk"), col("doc_id")).collect().map(r => r.getLong(1))
    var cum = 0L; var nd = 0L; var nt = 0L
    ordered.foreach { t => cum += t; if (cum <= cap) { nd += 1; nt += t } }
    assert((nd, nt) == (kd, kt), s"$src: prefix replay ($nd,$nt) vs census ($kd,$kt)")
  }

  test("chunkPackCensus equals a driver-side concat-and-cut replay") {
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val seqLen = 512L
    val got = PrepOps.chunkPackCensus(docs, seqLen).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // brute force: one pass over the doc_id-ordered token stream
    val toks = docs.select(col("doc_id"), col("lang"),
        size(split(lower(col("text")), " ")).cast("long").as("t"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    var cum = 0L
    val agg = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    toks.foreach { case (lang, t) =>
      val crosses = if (cum / seqLen != (cum + t - 1) / seqLen) 1L else 0L
      val (d0, t0, c0) = agg.getOrElse(lang, (0L, 0L, 0L))
      agg(lang) = (d0 + 1, t0 + t, c0 + crosses)
      cum += t
    }
    val want = agg.toSeq.map { case (l, (d, t, c)) => (l, d, t, c) }.sortBy(_._1)
    assert(got == want, s"got=$got want=$want")
    // sanity: a doc can cross at most once per seqLen tokens it owns, and
    // total crossings are bounded by the number of cut boundaries
    val totalTokens = want.map(_._3).sum
    assert(want.map(_._4).sum <= totalTokens / seqLen + 1)
  }

  test("filterFunnel: first-kill partitions the corpus; only_* shows overlap") {
    // A: 10 distinct 4-char tokens → fails ONLY wc (short)
    // B: "wxyz" * 40 → u=1, dm=40: first-killed by ttr (order!), also fails
    //    dom → contributes to kf_ttr but neither only_ttr nor only_dom
    // C: 20 distinct 4-char tokens twice each (40 tok) → passes everything
    // D: 20 distinct 1-char tokens twice each → chars-per-word 1 < 3 →
    //    fails ONLY wlen
    val a = (1 to 10).map(i => f"a$i%03d").mkString(" ")
    val b = Seq.fill(40)("wxyz").mkString(" ")
    val c = (1 to 20).flatMap(i => Seq(f"c$i%03d", f"c$i%03d")).mkString(" ")
    val dChars = ('a' to 't').map(_.toString)
    val d = dChars.flatMap(x => Seq(x, x)).mkString(" ")
    val docs = docsOf((1L, a, "en", "s"), (2L, b, "en", "s"),
      (3L, c, "en", "s"), (4L, d, "en", "s"))
    val r = PrepOps.filterFunnel(docs, 30).collect().head
    val got = (0 to 9).map(r.getLong)
    assert(got == Seq(4L, 1L, 1L, 1L, 0L, 1L, 1L, 0L, 0L, 1L), got.mkString(","))
    // the invariant the operator exists for: first-kills + kept == docs
    assert(got(1) + got(2) + got(3) + got(4) + got(9) == got(0))
  }

  test("maxWordMultiplicity: sorted run-length scan matches a groupBy-count oracle") {
    // Pins the r10 rewrite (O(u·n) array_distinct×filter → sorted run
    // scan): random token arrays with heavy repetition, plus the edges the
    // scan's "" init sentinel and run-reset logic must survive — a leading
    // "" token (split("", " ") lower-bounds at [""]), all-same, all-distinct,
    // and single-token arrays.
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("", "a", "b", "spam", "xyzzy", "w1", "w2", "w3")
    val cases: Seq[Seq[String]] =
      Seq(Seq(""), Seq("a"), Seq.fill(40)("spam"), vocab.drop(1)) ++
        (1 to 30).map { _ =>
          Seq.fill(1 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
        }
    val df = cases.zipWithIndex
      .map { case (toks, i) => (i.toLong, toks) }
      .toDF("id", "w")
      .withColumn("got", PrepOps.maxWordMultiplicity(col("w")))
    val got = df.select("id", "got").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    cases.zipWithIndex.foreach { case (toks, i) =>
      val want = toks.groupBy(identity).values.map(_.size).max
      assert(got(i.toLong) == want, s"case $i: ${toks.take(8).mkString(",")}…")
    }
    // null array propagates as null (the quality rules rely on this)
    val n = Seq((0L, null: Seq[String])).toDF("id", "w")
      .select(PrepOps.maxWordMultiplicity(col("w")).as("g")).collect()(0)
    assert(n.isNullAt(0))
  }
}
