package graft

import graft.operators.DedupOps

class DedupSpec extends SparkSpec {

  // High-similarity fixture: 100 distinct words, near-dup differs in ONE word
  // → shingle Jaccard ≈ 0.94, where 4×4 minhash banding has ~99.8% recall.
  // md5 is deterministic, so the LSH outcome for these exact strings is fixed.
  private val base = (0 until 100).map(i => s"w$i").mkString(" ")
  private val nearDup = base.replace(" w50 ", " changed ")
  private val other = (0 until 100).map(i => s"v$i").mkString(" ")

  private def corpus = docsOf(
    (1L, base, "en", "s0"),
    (2L, nearDup, "en", "s0"),
    (3L, other, "en", "s1"),
    (4L, base, "en", "s2")) // exact dup of 1

  test("minhash LSH finds the exact and near duplicates, not the unrelated doc") {
    val pairs = DedupOps.minhashLsh(corpus, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH candidates confirmed by exact jaccard agree with the exact all-pairs op") {
    val lsh = DedupOps.minhashLsh(corpus, 0.5).collect().map(_.toString).toSet
    val exact = DedupOps.ngramJaccard(corpus, 0.5).collect().map(_.toString).toSet
    assert(lsh.subsetOf(exact)) // LSH can only miss, never invent
    assert((exact -- lsh).isEmpty, s"LSH missed: ${exact -- lsh}") // and here it misses nothing
  }

  test("ngramContainment finds the quote Jaccard misses; matches brute force") {
    val quote = "alpha beta gamma delta epsilon zeta" // 6 words → 4 shingles
    val long = s"opening line before the excerpt $quote and then a very long tail " +
      (0 until 60).map(i => s"tail$i").mkString(" ")
    val d = docsOf(
      (1L, long, "en", "s0"),
      (2L, quote, "en", "s0"), // wholly contained in 1
      (3L, base, "en", "s1"),
      (4L, nearDup, "en", "s1"),
      (5L, other, "en", "s2"))
    val got = DedupOps.ngramContainment(d, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the quote is contained in the long doc, not vice versa
    assert(got((2L, 1L)) == 1.0)
    assert(!got.contains((1L, 2L)))
    // symmetric near-dups (1-word diff over 98 shingles) contain each other
    assert(got.contains((3L, 4L)) && got.contains((4L, 3L)))
    // brute force over the fixture: the prefix filter must lose nothing
    def shingleSet(text: String): Set[String] = {
      val ws = text.toLowerCase.split(" ").toSeq
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    val texts = Map(1L -> long, 2L -> quote, 3L -> base, 4L -> nearDup, 5L -> other)
    val brute = (for {
      (a, ta) <- texts; (b, tb) <- texts if a != b
      sa = shingleSet(ta); sb = shingleSet(tb)
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.9
    } yield (a, b)).toSet
    assert(got.keySet == brute, s"got=${got.keySet} brute=$brute")
  }

  test("simhash: identical docs at distance 0; near-dups within threshold; ordering deterministic") {
    val rows = DedupOps.simhash(corpus, 3).collect()
    val ham = rows.map(r => ((r.getLong(0), r.getLong(1)), r)).toMap
    assert(ham.contains((1L, 4L)))
    assert(ham((1L, 4L)).get(2).toString == "0")
    val sorted = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(sorted.toSeq == sorted.toSeq.sorted)
  }

  test("short documents (fewer words than the shingle width) still fingerprint") {
    val tiny = docsOf((1L, "one two", "en", "s"), (2L, "one two", "en", "s"))
    val pairs = DedupOps.ngramJaccard(tiny, 0.9).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("LSH bucket cap: oversized buckets use the star generator; dedup outcome unchanged") {
    // 64 identical docs — every band bucket holds all 64 copies — plus a
    // small-bucket near-dup pair that must still take the clique path.
    val otherNear = other.replace(" v50 ", " changed ")
    val mass = docsOf(
      ((1L to 64L).map(i => (i, base, "en", "s")) ++
        Seq((99L, other, "en", "s"), (100L, otherNear, "en", "s"))): _*)
    val capped = DedupOps.minhashLsh(mass, 0.8, maxBucketSize = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // star path: exactly one pair per non-representative member (63), never
    // the 2,016-edge clique — the per-task pair width is bounded by the cap.
    assert(capped.count(p => p._1 <= 64L && p._2 <= 64L) == 63)
    assert((2L to 64L).map(i => (1L, i)).toSet.subsetOf(capped))
    // buckets at or under the cap are unaffected: the near-dup pair survives
    assert(capped.contains((99L, 100L)))
    // the dedup decision (set of non-minimum cluster members) is identical
    // to the uncapped clique expansion
    val uncapped = DedupOps.minhashLsh(mass, 0.8, maxBucketSize = 1 << 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count(p => p._1 <= 64L && p._2 <= 64L) == 64 * 63 / 2)
    assert(capped.map(_._2) == uncapped.map(_._2)) // doc_a < doc_b throughout
    // census quantifies exactly what the cap rerouted
    val c = DedupOps.lshBucketCensus(mass, 8).collect().head
    assert(c.getLong(1) == 4, s"expected all 4 mass-cluster bands oversized: $c")
    assert(c.getLong(2) == 64, s"widest bucket: $c")
    assert(c.getLong(3) == 4L * (64 * 63 / 2), s"clique pairs avoided: $c")
  }

  test("star-path recall characterization: a below-threshold representative can absorb a cluster's edges") {
    // The scaladoc'd star trade-off, made concrete: when an oversized
    // bucket's representative (its min doc_id) verifies BELOW threshold
    // against the members, every star edge dies in verification and a true
    // duplicate cluster among the non-representative members goes
    // unreported — unless some band excludes the representative, in which
    // case that bucket's star is led by a member and the dedup recovers.
    // Both configs are found deterministically with a pure-Scala mirror of
    // the banding (same md5-prefix arithmetic as DedupOps), so no Spark
    // job runs per probe.
    def bandKeys(text: String): Seq[String] = {
      val w = text.toLowerCase.split(" ", -1).toSeq
      val sh = (if (w.length >= 3) (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" "))
        else Seq(w.mkString(" "))).distinct
      val p = 2147483647L
      val vs = sh.map { s =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16) % p
      }
      val sig = (0 until 16).map(i => vs.map(v => (v * (2 * i + 1) + i) % p).min)
      (0 until 4).map(b => s"$b:" + (0 until 4).map(r => sig(b * 4 + r)).mkString(","))
    }
    val baseWords = (0 until 100).map(j => s"n$j")
    val rep = baseWords.mkString(" ")
    val repB = bandKeys(rep)
    // members: one interior word changed → J(rep, member) = 95/101 ≈ 0.9406,
    // below the 0.95 threshold; members are identical to each other (J = 1)
    def member(k: Int) = baseWords.updated(50, s"chg$k").mkString(" ")
    def sharedBands(k: Int) = repB.zip(bandKeys(member(k))).count { case (a, b) => a == b }
    val all4 = (0 until 300).find(k => sharedBands(k) == 4)
    val partial = (0 until 300).find(k => { val s = sharedBands(k); s >= 1 && s < 4 })
    assert(all4.isDefined && partial.isDefined,
      "deterministic config search must find both band alignments")
    def losers(k: Int, cap: Int): Set[Long] = {
      val c = docsOf(((1L, rep, "en", "s") +:
        (2L to 8L).map(i => (i, member(k), "en", "s"))): _*)
      DedupOps.minhashLsh(c, 0.95, maxBucketSize = cap).collect()
        .map(_.getLong(1)).toSet
    }
    // uncapped cliques pair the members directly regardless of the rep
    assert(losers(all4.get, 1 << 20) == (3L to 8L).toSet)
    // the gap: rep joins all 4 member buckets, leads every star, and every
    // star edge fails verification → the cluster is not deduplicated
    assert(losers(all4.get, 2) == Set.empty[Long])
    // the recovery: rep misses ≥1 band, that bucket's star is led by a
    // member, its edges verify at J=1 — capped matches uncapped exactly
    assert(losers(partial.get, 1 << 20) == (3L to 8L).toSet)
    assert(losers(partial.get, 2) == (3L to 8L).toSet)
  }

  test("LSH recall census: full recall on the standard fixture; pinned deficit near the threshold") {
    // standard fixture: 3 true pairs, all found (the existing subset test)
    val c1 = DedupOps.lshRecallCensus(corpus, 0.5).collect().head
    assert((c1.getLong(0), c1.getLong(1), c1.getLong(2)) == ((3L, 3L, 0L)), c1.toString)
    assert(c1.getDouble(5) == 1.0)
    // adversarial corpus: 40 vocabulary-disjoint pairs, each with 4 changed
    // words in 100 → Jaccard 86/110 = 0.7818, barely over threshold 0.78 —
    // the region where the banding match probability 1−(1−j⁴)⁴ ≈ 0.85 is
    // weakest. md5 is deterministic, so the outcome for these exact strings
    // is fixed: 3 of 40 pairs escape all 4 bands.
    val adv = docsOf((0 until 40).flatMap { i =>
      val words = (0 until 100).map(j => s"p${i}w$j")
      val changed = words.zipWithIndex.map { case (w, j) =>
        if (j == 10 || j == 30 || j == 50 || j == 70) s"p${i}c$j" else w }
      Seq((i.toLong, words.mkString(" "), "en", "s"),
        (1000L + i, changed.mkString(" "), "en", "s"))
    }: _*)
    val c2 = DedupOps.lshRecallCensus(adv, 0.78).collect().head
    assert(c2.getLong(0) == 40, c2.toString)
    assert(c2.getLong(2) == 3, s"banding misses exactly 3 near-threshold pairs: $c2")
    assert(c2.getDouble(3) == 0.7818 && c2.getDouble(4) == 0.7818,
      s"every miss sits at the threshold boundary: $c2")
    assert(c2.getDouble(5) == 0.925, c2.toString)
  }

  test("connected components: transitive chains collapse to the component minimum") {
    import spark.implicits._
    // two components: {1,2,3,4} connected only through chains (no direct
    // 3-4 or 1-3 edge) and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 1L)).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
    // a 10-node path graph needs ~diameter rounds — the convergence loop,
    // not a single propagation step, does the work
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainGot = DedupOps.connectedComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(chainGot.length == 10 && chainGot.forall(_._2 == 1L), chainGot.mkString(","))
    // and the end-to-end operator clusters the standard fixture: docs 1,
    // 2, 4 are one near-dup cluster (1-2, 1-4, 2-4 pairs), doc 3 alone
    val comp = DedupOps.dedupComponents(corpus, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 4L -> 1L), comp.toString)
  }

  test("adaptive components: union-find path equals both distributed algorithms " +
      "on random graphs, and the bound really switches strategies") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (round <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2)
      val pairs = edges.toDF("doc_a", "doc_b")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val viaUnionFind = rows(DedupOps.connectedComponentsAdaptive(pairs)) // under bound
      val viaLoopForced = rows(DedupOps.connectedComponentsAdaptive(
        pairs, smallGraphEdges = 0L)) // force the distributed loop
      val viaLabelProp = rows(DedupOps.connectedComponents(pairs))
      // the big-graph machinery (cached edge layout; broadcast-frontier
      // rounds / SMJ rounds) engages only above SmallGraphEdges via the
      // adaptive hint — force BOTH modes on this small graph so the
      // probe-scale round shapes stay CI-covered (round 14)
      val viaBcastRounds = rows(DedupOps.connectedComponents(
        pairs, "doc_a", "doc_b", 50, Some(DedupOps.SmallGraphEdges + 1),
        DedupOps.BroadcastLabelNodes))
      val viaSmjRounds = rows(DedupOps.connectedComponents(
        pairs, "doc_a", "doc_b", 50, Some(DedupOps.SmallGraphEdges + 1),
        0L))
      assert(viaUnionFind == viaLabelProp, s"round $round: uf=$viaUnionFind lp=$viaLabelProp")
      assert(viaLoopForced == viaLabelProp, s"round $round: bound=0 must run the loop")
      assert(viaBcastRounds == viaLabelProp, s"round $round: broadcast rounds diverge")
      assert(viaSmjRounds == viaLabelProp, s"round $round: cached SMJ rounds diverge")
    }
  }

  test("incremental LSH over an append sequence equals the full recompute (parquet store)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairSet(DedupOps.minhashLsh(docs, 0.8, Int.MaxValue))
    assert(full.nonEmpty, "fixture must contain near-dup pairs")
    // three append batches through the REAL store IO: build from batch 0,
    // then for each later batch report increments before appending it
    val store = tempDir("lsh_store").toString
    def batch(i: Int) = docs.filter(col("doc_id") % 3 === i)
    DedupOps.buildLshStore(batch(0), store)
    var got = pairSet(DedupOps.minhashLsh(batch(0), 0.8, Int.MaxValue))
    for (i <- 1 to 2) {
      got ++= pairSet(
        DedupOps.minhashLshIncremental(batch(i), store, 0.8, Int.MaxValue))
      DedupOps.appendLshStore(batch(i), store)
    }
    assert(got == full,
      s"missing=${full -- got} extra=${got -- full}")
    // incremental batches only ever ADD pairs touching the new batch
    val b1Inc = DedupOps.minhashLshIncremental(batch(1), batch(0), 0.8, Int.MaxValue)
    assert(pairSet(b1Inc).subsetOf(full))
  }

  test("streaming dedup ingest: batch-by-batch pairs equal the full recompute; replays skipped") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.CorpusStream
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val full = DedupOps.minhashLsh(docs, 0.8, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tmp = tempDir("corpus_stream").toString
    val sink = CorpusStream.dedupIngestBatch(
      s"$tmp/store", s"$tmp/pairs", 0.8, Int.MaxValue) _
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    for (i <- 0L to 2L) sink(docs.filter(col("doc_id") % 3 === i), i)
    // each micro-batch drops its own shingle cache entry — one per batch
    // would accrete forever on an unbounded stream
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "streaming batches must not accrete cache entries")
    def pairsOnDisk() = spark.read.parquet(s"$tmp/pairs")
    val got = pairsOnDisk().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == full, s"missing=${full -- got} extra=${got -- full}")
    // a replayed micro-batch (same batchId) is a marker-guarded no-op
    val before = pairsOnDisk().count()
    sink(docs.filter(col("doc_id") % 3 === 2), 2L)
    assert(pairsOnDisk().count() == before, "replay must not re-append")
  }

  test("dedupCorpus: one representative per cluster survives with all columns") {
    // cluster {1,2,4} keeps 1; singleton 3 passes through untouched
    val survivors = DedupOps.dedupCorpus(corpus, 0.5).collect()
    assert(survivors.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      survivors.mkString(","))
    // original columns (text, lang, source, n_chars) ride along unchanged
    val d3 = survivors.find(_.getLong(0) == 3L).get
    assert(d3.getString(1) == other && d3.getString(3) == "s1", d3.toString)
  }

  test("clusterBalanceCensus: a cluster contributes ~unit mass; singletons weight 1.0") {
    // docs 1,2,4 cluster (size 3, w=⌊1e6/3⌋=333333); doc 3 singleton (w=1e6)
    val r = DedupOps.clusterBalanceCensus(corpus, 0.5).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(("en", 4L, 3L, 1L, 3L * 333333L + 1000000L, 333333L)),
      r.mkString(","))
  }

  test("clusterSizeHistogram: one triple cluster plus a singleton, removable exact") {
    // corpus: docs 1,2,4 cluster (size 3); doc 3 singleton
    val r = DedupOps.clusterSizeHistogram(corpus, 0.5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r == Seq((1L, 1L, 1L, 0L), (3L, 1L, 3L, 2L)), r.mkString(","))
  }

  test("dedupCorpusBest keeps each cluster's LONGEST member; ties fall back to min id") {
    // doc 2 = base with two words appended: still ~0.98 Jaccard to 1 and 4,
    // but 102 words vs their 100 — the longest-copy policy must keep 2
    // where the min-id policy keeps 1.
    val longerNearDup = base + " extra0 extra1"
    val d = docsOf(
      (1L, base, "en", "s0"),
      (2L, longerNearDup, "en", "s0"),
      (3L, other, "en", "s1"),
      (4L, base, "en", "s2"))
    val best = DedupOps.dedupCorpusBest(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(best == Seq(2L, 3L), best.mkString(","))
    val minId = DedupOps.dedupCorpus(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(minId == Seq(1L, 3L), minId.mkString(","))
    // equal-length cluster {1,2,4} (the shared fixture): tie-break = min id,
    // so both policies agree
    val tie = DedupOps.dedupCorpusBest(corpus, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(tie == Seq(1L, 3L), tie.mkString(","))
  }

  test("collapsed components equal uncollapsed components on a replica-skewed corpus") {
    // every doc replicated 5x under fresh ids, plus a duplicate pair whose
    // representative is UNCLUSTERED in the rep graph (the gsz>1 branch)
    val lonely = (0 until 100).map(i => s"u$i").mkString(" ")
    val rows = (0 until 5).flatMap { r =>
      Seq((1L + 10 * r, base, "en", "s0"), (2L + 10 * r, nearDup, "en", "s0"),
        (3L + 10 * r, other, "en", "s1"))
    } ++ Seq((100L, lonely, "en", "s3"), (101L, lonely, "en", "s3"))
    val d = docsOf(rows: _*)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = labels(DedupOps.dedupComponents(d, 0.5, Int.MaxValue))
    val collapsed = labels(DedupOps.dedupComponentsCollapsed(d, 0.5, Int.MaxValue))
    assert(plain == collapsed,
      s"only-plain=${plain -- collapsed} only-collapsed=${collapsed -- plain}")
    // the unclustered-rep duplicate pair is its own cluster labeled grp
    assert(collapsed.contains((100L, 100L)) && collapsed.contains((101L, 100L)))
  }

  test("collapsed components equal uncollapsed on seeded random corpora") {
    val rnd = new scala.util.Random(7)
    val pool = (0 until 30).map(i => s"t$i")
    // 12 distinct texts of 20 words from a 30-word pool -> plenty of
    // genuine near-threshold pairs; each text replicated 1-4x
    val texts = (0 until 12).map(_ => (0 until 20).map(_ => pool(rnd.nextInt(pool.size))).mkString(" "))
    val rows = texts.zipWithIndex.flatMap { case (t, i) =>
      (0 to rnd.nextInt(3)).map(r => (i * 10L + r, t, "en", "s0"))
    }
    val d = docsOf(rows: _*)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(DedupOps.dedupComponents(d, 0.5, Int.MaxValue)) ==
      labels(DedupOps.dedupComponentsCollapsed(d, 0.5, Int.MaxValue)))
  }

  test("collapsed path: all-identical corpus leaves an EMPTY rep-pair graph") {
    // one duplicate group covering the whole corpus: the rep graph has a
    // single node and no edges (components over an empty pair relation),
    // the whole cluster labels through the gsz>1 branch
    val d = docsOf((1 to 6).map(i => (i.toLong, base, "en", "s0")): _*)
    val comp = DedupOps.dedupComponentsCollapsed(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comp == (1 to 6).map(i => (i.toLong, 1L)).toSet, comp.mkString(","))
    val survivors = DedupOps.dedupCorpusBestCollapsed(d, 0.5).collect().map(_.getLong(0)).toSeq
    assert(survivors == Seq(1L), survivors.mkString(","))
  }

  test("dedupCorpusBestCollapsed keeps exactly dedupCorpusBest's survivors") {
    val longerNearDup = base + " extra0 extra1"
    val d = docsOf(
      (1L, base, "en", "s0"), (2L, longerNearDup, "en", "s0"),
      (3L, other, "en", "s1"), (4L, base, "en", "s2"),
      (5L, longerNearDup, "en", "s0"), // exact dup of the longest member
      (6L, other, "en", "s1"))
    val best = DedupOps.dedupCorpusBest(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    val coll = DedupOps.dedupCorpusBestCollapsed(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(coll == best, s"collapsed=$coll best=$best")
    // the longest member wins in both (2 over 1/4/5; 3 over its dup 6)
    assert(coll == Seq(2L, 3L), coll.mkString(","))
    // and the min-id policy twin agrees with dedupCorpus on the same input
    val minId = DedupOps.dedupCorpus(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    val minColl = DedupOps.dedupCorpusCollapsed(d, 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(minColl == minId && minColl == Seq(1L, 3L), s"collapsed=$minColl plain=$minId")
  }

  test("curation funnel: LSH and exact near-dup stages agree; two shared cache entries, no accretion") {
    import graft.operators.CurationOps
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
    // a shared session may already hold this corpus's funnel entries from
    // an earlier suite — drop them so the accounting below starts clean
    // (suite-order once masked a stale version of this very test)
    CurationOps.unpersistCuration(docs)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lsh = CurationOps.curationFunnel(docs, 30, 0.8, 13, useLsh = true)
      .collect().head.toSeq
    val mid = spark.sparkContext.getPersistentRDDs.keySet
    val exact = CurationOps.curationFunnel(docs, 30, 0.8, 13, useLsh = false)
      .collect().head.toSeq
    assert(lsh == exact, s"LSH funnel $lsh != exact funnel $exact")
    // the round-10 funnel holds exactly TWO plan-keyed entries per
    // (corpus, minWords) — the collapsed-by-norm grouped relation and the
    // keeper shingle relation, both distinct-content-sized — shared by
    // repeated calls (no per-call accretion)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).size <= 2,
      s"funnel must add at most its two shared entries: ${after -- before}")
    assert(after == mid, "a second funnel must not accrete cache entries")
    // ...and the corpus owner drops both
    CurationOps.unpersistCuration(docs)
    val cleaned = spark.sparkContext.getPersistentRDDs.keySet
    assert((cleaned -- before).isEmpty,
      s"unpersistCuration must drop the funnel entries: ${cleaned -- before}")
  }

  test("fuzzyPairsCensus: blocking on the head bigram, Levenshtein histogram hand-checked") {
    // docs 1/2/3 share block "alpha bravo"; doc4's block differs (never
    // compared despite a near-identical head); doc5 has <2 tokens (dropped).
    //   (1,3) dist 0; (1,2) and (2,3) dist 1 ("delta"->"delte")
    val docs = docsOf(
      (1L, "alpha bravo candy delta", "en", "s"),
      (2L, "alpha bravo candy delte", "en", "s"),
      (3L, "alpha bravo candy delta", "en", "s"),
      (4L, "zetas bravo candy delta", "en", "s"),
      (5L, "single", "en", "s"))
    val rows = DedupOps.fuzzyPairsCensus(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((0L, 1L, 1L, 1L), (1L, 2L, 2L, 2L)), rows.mkString(","))
  }

  test("fuzzyPairsCensus: length prefilter is semantics-neutral (bound, not a heuristic)") {
    // heads differing by more than maxDist in LENGTH can't be within
    // maxDist edits; a pair pruned by the prefilter must also fail the
    // exact distance test. maxDist=2 with a 6-char insertion gap.
    val docs = docsOf(
      (1L, "alpha bravo tail", "en", "s"),
      (2L, "alpha bravo tail plus xx", "en", "s"),
      (3L, "alpha bravo tail plux xx", "en", "s"))
    val rows = DedupOps.fuzzyPairsCensus(docs, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // only (2,3) survives: dist 1; both pairs with doc1 are 8 edits away
    assert(rows.toSeq == Seq((1L, 1L)), rows.mkString(","))
  }
}
