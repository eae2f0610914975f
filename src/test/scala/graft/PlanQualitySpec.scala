package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/**
 * Plan-shape regressions: the physical plans the 100 TB design depends on.
 * These lock in what the explain audit found, so a refactor that silently
 * turns a broadcast into a shuffle or breaks pushdown fails CI.
 */
class PlanQualitySpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("top-1/top-k queries plan as TakeOrderedAndProject (no global sort)") {
    assert(plan("r3_oldest_by_status").contains("TakeOrderedAndProject"))
    assert(plan("r4_latest_by_status").contains("TakeOrderedAndProject"))
    assert(plan("e2_topk_cosine").contains("TakeOrderedAndProject"))
  }

  test("fixture-derived equality filters push down to the parquet scan") {
    val p = SparkEntry.queries("r1_overlap_input")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,click)"), p.take(2000))
  }

  test("dimension joins broadcast the small side") {
    assert(plan("a2_orders_by_nation").contains("BroadcastHashJoin"))
    assert(plan("e4_multimodal_join").contains("BroadcastHashJoin"))
  }

  test("salted join shuffles on (key, salt): a hot key spreads across reducers") {
    // force the shuffle join the operator exists for (at fixture scale the
    // dim side would broadcast, where salting is a no-op by design)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.operators.SkewOps.saltedJoin(
        Tables.read(spark, d, "events"), Tables.read(spark, d, "customer"),
        "user_id", "c_custkey", 8)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p.take(1500))
      // both exchanges carry the salt in their hash partitioning, so the
      // hottest user_id occupies 8 reducers, not one
      val parts = "hashpartitioning\\([^)]*__salt".r.findAllIn(p).size
      assert(parts >= 2, s"expected both join sides partitioned by __salt:\n${p.take(2500)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  private def windows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case q: QueryStageExec => windows(q.plan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
  }

  test("distributed running total has no single-partition window; matches the faithful form") {
    val dist = SparkEntry.queries("x20_running_total_dist")(spark, d)
    // the faithful a5 IS the single-partition shape (reference semantics)
    val faithful = SparkEntry.queries("a5_running_total")(spark, d)
    val got = dist.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = faithful.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == want, "two-pass prefix sum must equal the global window")
    // inspect the final (post-AQE) plan, after execution
    val ws = windows(dist.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected a windowed plan")
    ws.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"single-partition WindowExec in:\n$w"))
  }

  test("dedup-family windows partition by their keys — never a single-partition window") {
    // x1's bucket-stats window (band_key) and x2's prefix-rank window
    // (doc_id) must distribute — a refactor that drops a partitionBy here
    // turns the corpus into one task at 100 TB. (x19 shares x1's path but
    // returns an eagerly-computed local census, so its plan isn't
    // inspectable from the result.)
    Seq("x1_minhash_lsh", "x2_ngram_jaccard").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect() // finalize any adaptive plan before inspecting
      val ws = windows(df.queryExecution.executedPlan)
      assert(ws.nonEmpty, s"$q: expected windowed plan")
      ws.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q has a single-partition WindowExec:\n$w"))
    }
  }

  test("cleaned-corpus and incremental-dedup plans stay key-distributed") {
    // x37's winner window partitions by span, x38's anti-join and x40's
    // new-old candidate join are key equi-joins — none may degrade to a
    // single-partition window or a cartesian product (the corpus would
    // collapse onto one task at 100 TB).
    Seq("x37_span_apply_corpus", "x38_dedup_corpus", "x40_lsh_incremental",
        "x104_dedup_best", // x104's survivor window must partition by component
        // the collapsed family: the collapse groupBy+join, the label
        // extension joins, and the survivor windows must all stay keyed
        "x156_components_collapsed", "x157_dedup_best_collapsed",
        "x158_dedup_corpus_collapsed",
        // the round-10 collapsed funnel: keeper selection is a groupBy
        // min_by, never a corpus window; composites stay keyed throughout
        "x42_curation_corpus", "x69_production_corpus")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, d)
        df.collect() // finalize the adaptive plan before inspecting
        val p = df.queryExecution.executedPlan
        assert(!p.toString.contains("CartesianProduct"),
          s"$q: cartesian product\n${p.toString.take(1500)}")
        windows(p).foreach(w => assert(w.partitionSpec.nonEmpty,
          s"$q has a single-partition WindowExec:\n$w"))
      }
  }

  test("collapsed funnel: no window anywhere; cleaned corpus stays re-spread under AQE") {
    import graft.operators.CurationOps
    // (a) the round-10 collapse removed the norm-partitioned window from
    // the funnel family entirely — keeper selection is a map-side-combined
    // groupBy min_by; a refactor that reintroduces ANY window here fails
    val df = SparkEntry.queries("x42_curation_corpus")(spark, d)
    df.collect()
    assert(windows(df.queryExecution.executedPlan).isEmpty,
      s"collapsed funnel must contain no WindowExec:\n${df.queryExecution.executedPlan.toString.take(2000)}")
    // (b) the cleaned corpus is re-spread with a PINNED partition count so
    // AQE's coalesce of the small collapsed relation cannot serialize the
    // per-row-heavy downstream stages (CDC chunking, BPE tokenization)
    val corpus = CurationOps.curationCorpus(
      Tables.read(spark, d, "documents"), 30, 0.8, 13)
    assert(corpus.rdd.getNumPartitions > 1,
      s"cleaned corpus collapsed to ${corpus.rdd.getNumPartitions} partition(s)")
  }

  test("semantic decontamination streams the corpus once against a broadcast eval side") {
    // the eval side is small by contract: the corpus-eval pairing must be a
    // broadcast nested-loop (scan-shaped at 100 TB), never a cartesian
    // product or a shuffled join of the corpus against the eval rows
    val p = plan("x105_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("decontamination broadcasts the benchmark shingles; corpus side streams once") {
    Seq("x21_decontaminate", "x108_decontam_frac").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$q: corpus must never self-join")
    }
  }

  test("bucketed embedding near-dup has no corpus-level cartesian product") {
    // cross joins exist only against the O(#centroids) tables (broadcast);
    // the corpus-corpus candidate join must be an equi-join on cell ids.
    val p = plan("x4_embed_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("capped semantic-dedup pairs: collapse window feeds the candidate join; " +
      "no corpus-level cartesian, no uncapped cell-pair join") {
    import graft.operators.SimilarityOps
    val emb = Tables.read(spark, d, "embeddings")
    val p = SimilarityOps.semanticDedupPairsImpl(emb, 0.4,
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
        SimilarityOps.DefaultMaxCellPairSize, materialize = false)
      .queryExecution.executedPlan.toString
    // stage 1: the exact-duplicate collapse is a window keyed on the vector
    // value — duplicates never reach the quadratic stage
    assert(p.contains("windowspecdefinition(embedding"), p.take(3000))
    // stage 2: candidate generation is equi-joins on cell ids (small path)
    // and the bucket-rep star (big path) — never a corpus cartesian
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(3000))
    // both cap branches are present in the plan (union of clique ∪ star ∪
    // collapse stars) — a refactor that drops the cap would collapse the
    // union arms
    assert(p.contains("Union"), p.take(3000))
    // the packing aggregate is fed through a semi-join against the pair
    // table's cids: without it an over-cap cell (whose pairs route to the
    // star arm) still packs into ONE O(members·dim) aggregate row,
    // defeating the maxCellPairSize bound (round-12 ADVICE fix)
    assert(p.contains("LeftSemi"),
      s"cell packing must semi-join the paired cids first: ${p.take(3000)}")
  }

  test("blocked-pairs density dispatch: dense regime engages the grouped cross, sparse stays on the bridge") {
    // The grouped 2D cross (the 60×-distinct fix for the quadratic
    // pair-table shuffle) engages only when the measured pair density
    // clears k > 2G−1 and |pairs| > G·k — CI corpora keep k tiny, so
    // without this fixture the dense arm's plan shape has no gate. At the
    // test session's 4 shuffle partitions G = 4: 10 cells with a
    // low threshold (wide radii ⇒ ~all 55 canonical cell pairs qualify)
    // must route through the grouped cross — visible in the plan as the
    // g_a/g_b group-key join — and produce the brute-force pair set
    // exactly; the default corpus-proportional mod (k = 2 here) must stay
    // on the sparse broadcast bridge (no group keys anywhere).
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L).map { id =>
      (id, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint()
    val cents = emb.filter(col("vec_id") % 6 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val dense = graft.operators.SimilarityOps.embeddingNearDupWith(emb, 0.0, cents)
    val dp = dense.queryExecution.optimizedPlan.toString
    assert(dp.contains("g_a") && dp.contains("g_b"),
      s"10 cells at threshold 0.0 must dispatch to the grouped cross: ${dp.take(3000)}")
    val brute = graft.operators.SimilarityOps.embeddingNearDupBrute(emb, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = dense.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, s"grouped cross diverges from brute force: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    val sparse = graft.operators.SimilarityOps.embeddingNearDup(emb, 0.0)
      .queryExecution.optimizedPlan.toString
    assert(!sparse.contains("g_a"),
      s"k=2 must stay on the sparse bridge: ${sparse.take(3000)}")
  }

  test("slotted cross: conf-sized grid, exchanges at conf, pairs equal brute force") {
    // The grouped cross's GROUP GRID — per-side replication
    // G = ⌈√(2·conf)⌉ — is visible in the OPTIMIZED plan as the folded slot
    // lookup's G²-element array and ×G multiplier (ConstantFolding eats
    // the sequence literal itself). The exchanges stay at conf: Spark
    // 4.1's EnsureRequirements rewrites a user repartition whose count
    // differs from conf back to conf under an SMJ (measured, minimal
    // repro in BENCH_notes_r15 §3). Pair set must be placement-independent
    // (round-15 verdict ask 3).
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L).map { id =>
      (id, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .localCheckpoint()
    val cents = emb.filter(col("vec_id") % 6 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def gslotParts(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect() // force execution so the AQE final plan is the one read
      """hashpartitioning\(gslot#\d+[^,]*, (\d+)\)""".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).toSeq
    }
    // FOLD-PROOF grid signature (round-16 fix of the round-15 escape):
    // the original lock grepped the optimized plan for `sequence(0, 2`,
    // but ConstantFolding folds the foldable sequence(lit(0), lit(gp−1))
    // into an UnsafeArrayData literal before rendering — the assert could
    // never pass. What DOES survive folding, and uniquely encodes gp, is
    // the slot lookup `element_at([..gp² values..], ((g_a * gp) + g_b) + 1)`:
    // read the slot-array cardinality (gp²) and the grid multiplier (gp)
    // straight from the folded rendering.
    def gridSig(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.optimizedPlan.toString
      val m = """element_at\(\[([-\d,]+)\], \(\(\(g_a#\d+ \* (\d+)\)""".r
        .findFirstMatchIn(plan)
        .getOrElse(fail(s"no folded slot lookup in the optimized plan: ${plan.take(2000)}"))
      (m.group(1).split(",").length, m.group(2).toInt)
    }
    val brute = graft.operators.SimilarityOps.embeddingNearDupBrute(emb, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val conf = spark.sessionState.conf.numShufflePartitions
    // at conf 4: gp = ceil(sqrt(2*4)) = 3 -> 9 slots, multiplier 3
    val dflt = graft.operators.SimilarityOps.embeddingNearDupWith(emb, 0.0, cents)
    val pDflt = gslotParts(dflt)
    assert(pDflt.nonEmpty && pDflt.forall(_ == conf),
      s"the slotted cross's exchanges must stay at conf=$conf: $pDflt")
    assert(gridSig(dflt) == ((9, 3)),
      s"the group grid must be conf-sized (gp=3 at conf 4): ${gridSig(dflt)}")
    val got = dflt.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, "slot placement must never change the pair set: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("dense-cross slot placement: pre-image values land on their assigned partitions") {
    // The grouped cross's G = ceil(sqrt(2*conf)) relies on slot values
    // being murmur pre-images of their partitions under Spark's LIVE
    // hashpartitioning; a Spark upgrade changing seed or hash degrades
    // placement silently back to birthday-collision hashing (round-14
    // ADVICE). Pin it against the engine itself: repartition a row per
    // slot value and assert each lands where the search promised.
    import spark.implicits._
    Seq(4, 32).foreach { conf =>
      val n = 2 * conf
      val vals = graft.operators.SimilarityOps.pairSlotValues(conf, n)
      assert(vals.distinct.length == n, s"conf=$conf: slot values must be pair-unique")
      val placed = vals.toIndexedSeq.zipWithIndex.toDF("gslot", "pair")
        .repartition(conf, col("gslot"))
        .select(col("pair"), org.apache.spark.sql.functions.spark_partition_id().as("pid"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      vals.indices.foreach { j =>
        assert(placed(j) == j % conf,
          s"conf=$conf pair $j: landed ${placed(j)}, assigned ${j % conf} — " +
            "Spark's int hash no longer matches Murmur3_x86_32.hashInt(v, 42)")
      }
    }
  }

  test("measuredLeafBytes: leaves ADD across joins, and unloaded caches recurse to file scans") {
    // The pair-shuffle sizing proxy must never see a join-multiplied
    // estimate: proxy attempt 1 (whole-plan stats) pinned 65536-partition
    // shuffles onto a 700 MB stage, and attempt 2 (plain leaf stats) hit
    // the same defect through an UNLOADED InMemoryRelation, whose leaf
    // stats are the estimate of the plan it caches. This locks the two
    // properties the landed proxy rests on (BENCH_notes_r12 §4).
    import graft.operators.DedupOps
    val docs = Tables.read(spark, d, "documents").select(col("doc_id"), col("text"))
    val one = DedupOps.measuredLeafBytes(docs.queryExecution.optimizedPlan)
    assert(one > 0, "a parquet scan must report its file-index bytes")
    val joined = docs.join(
      docs.select(col("doc_id"), col("text").as("t2")), Seq("doc_id"))
    assert(DedupOps.measuredLeafBytes(joined.queryExecution.optimizedPlan) == one * 2,
      "leaves must SUM (scan + scan), never multiply through the join")
    val cached = joined.cache()
    try {
      // cache() returns the SAME Dataset, whose memoized optimizedPlan was
      // already forced by the assert above (pre-substitution) — so the
      // cache halves must measure a FRESH identical plan, where
      // withCachedData substitutes the InMemoryRelation (round-13 ADVICE:
      // the original form re-measured the plain file-scan plan twice and
      // neither cache branch ever ran)
      def fresh() = docs.join(
        docs.select(col("doc_id"), col("text").as("t2")), Seq("doc_id"))
      val unloadedPlan = fresh().queryExecution.optimizedPlan
      assert(unloadedPlan.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"cache substitution must have happened: $unloadedPlan")
      // unloaded: the InMemoryRelation leaf's own stats are the cached
      // plan's (join-multiplied) estimate — the proxy must recurse to the
      // two file scans underneath instead
      assert(DedupOps.measuredLeafBytes(unloadedPlan) == one * 2,
        "an unloaded cache must contribute its underlying file bytes")
      cached.count()
      val loadedPlan = fresh().queryExecution.optimizedPlan
      assert(loadedPlan.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"cache substitution must have happened: $loadedPlan")
      val loaded = DedupOps.measuredLeafBytes(loadedPlan)
      assert(loaded > 0, "a loaded cache must report measured buffer bytes")
      assert(loaded != one * 2,
        "a loaded cache must report its MEASURED buffer bytes, not the " +
          "underlying file bytes (buffer and file sizes coinciding exactly " +
          "would be a one-in-a-million fluke; this guards the branch)")
    } finally cached.unpersist()
  }

  test("pairShufflePartitions: a plan built over an UNLOADED cache still gets the measured-bytes spread") {
    // Round-13 verdict ask 2: the sizing proxy read plan stats at PLAN
    // time, so a verify plan built before its cached inputs materialized
    // sized from the file estimate while the same plan built after sized
    // from measured buffers. The fix triggers one materializing count()
    // when an unloaded cache could change the decision. Differential
    // setup: calibrate the loaded-buffer bytes on an identical twin
    // cache, pick the engagement bound BETWEEN the file-based and
    // loaded-based masses, and assert the pre-built plan lands on the
    // LOADED side of the bound.
    import graft.operators.DedupOps
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = Tables.read(spark, d, "documents").select(col("doc_id"), col("text"))
    val sess = spark.sessionState.conf.numShufflePartitions
    // twin A: measure the loaded-buffer bytes this data caches to
    def planA() = docs.join(
      docs.select(col("doc_id"), col("text").as("cal_a")), Seq("doc_id"))
    val cachedA = planA().cache()
    val fileBytes =
      try {
        val fb = DedupOps.measuredLeafBytes(planA().queryExecution.optimizedPlan)
        cachedA.count()
        val loaded = DedupOps.measuredLeafBytes(planA().queryExecution.optimizedPlan)
        assert(loaded != fb, "calibration needs file != buffer bytes")
        (fb, loaded)
      } finally cachedA.unpersist()
    val (fb, loadedBytes) = fileBytes
    // twin B: same data, distinct cache entry, left UNLOADED
    def planB() = docs.join(
      docs.select(col("doc_id"), col("text").as("cal_b")), Seq("doc_id"))
    val cachedB = planB().cache()
    try {
      val pre = planB() // the plan under test, built while B is unloaded
      assert(pre.queryExecution.optimizedPlan.collectLeaves().exists {
        case imr: InMemoryRelation =>
          !imr.cacheBuilder.isCachedColumnBuffersLoaded
        case _ => false
      }, "twin B must start unloaded")
      // bound strictly between the two CALIBRATED readings → the
      // decisions differ (the per-leaf-type join-mass factors are part
      // of the contract under test: a loaded buffer byte carries 20×,
      // a compressed file byte 400×)
      val massFile = fb * DedupOps.FileScanJoinMassFactor / sess
      val massLoaded = loadedBytes * DedupOps.CachedBufferJoinMassFactor / sess
      assert(massFile != massLoaded, "calibrated masses must differ for the bound to separate")
      val bound = ((massFile + massLoaded) / 2).toLong
      val fileDecision = massFile > bound
      val loadedDecision = massLoaded > bound
      assert(fileDecision != loadedDecision, "bound must separate the readings")
      val got = DedupOps.pairShufflePartitions(pre, bound, 1L << 16)
      assert(got.isDefined == loadedDecision,
        s"pre-built plan must take the LOADED decision (file=$massFile " +
          s"loaded=$massLoaded bound=$bound got=$got)")
      // and the spread value itself must come from the loaded bytes
      if (loadedDecision)
        assert(got.contains(
          ((loadedBytes * DedupOps.CachedBufferJoinMassFactor) / (1L << 16))
            .min(65536).toInt),
          s"spread must be sized from measured buffers: $got")
    } finally cachedB.unpersist()
  }

  test("pairShufflePartitions runs ZERO jobs at gate scale (the trigger must stay far away)") {
    // The post-materialization re-read pays one count() job when an
    // unloaded cache could change the decision — but at gate SFs the
    // leaves sit far under the trigger, and the no-plan-time-jobs
    // property is what keeps gate plans and job counts byte-identical to
    // r12 (the x39 riser A/B priced exactly this class of fixed cost).
    import graft.operators.DedupOps
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val docs = Tables.read(spark, d, "documents").select(col("doc_id"), col("text"))
    val cached = docs.join(
      docs.select(col("doc_id"), col("text").as("gate_t2")), Seq("doc_id")).cache()
    try {
      val pre = docs.join(
        docs.select(col("doc_id"), col("text").as("gate_t2")), Seq("doc_id"))
      spark.sparkContext.addSparkListener(listener)
      try {
        val got = DedupOps.pairShufflePartitions(pre) // production bounds
        // listener delivery is async; a job started synchronously inside
        // the call is enqueued by now — drain the bus deterministically
        // (the former 300 ms sleep could false-pass under a loaded bus)
        org.apache.spark.GraftTestBus.drain(spark.sparkContext)
        assert(got.isEmpty, s"gate-scale relation must not pin: $got")
        assert(jobs.get() == 0,
          s"sizing at gate scale must run zero jobs, ran ${jobs.get()}")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally cached.unpersist()
  }

  test("metadata queries over the asset store never read the binary payload column") {
    import graft.operators.MultimodalOps
    val docs = Tables.read(spark, d, "documents")
    val tmp = tempDir("graft_assets").toString + "/assets"
    MultimodalOps.documentsAsAssets(docs).write.parquet(tmp)
    val meta = spark.read.parquet(tmp)
      .groupBy(col("kind")).agg(count(lit(1)).as("n"))
    // AQE wraps the scan; the formatted explain still surfaces ReadSchema.
    val explained = meta.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("ReadSchema"), explained.take(500))
    assert(!explained.contains("payload"),
      s"payload read for a metadata query:\n${explained.take(2000)}")
    assert(meta.count() == 1)
  }

  test("prep operators keep their scale shapes: shuffle-free redaction, " +
      "distributed packing window, top-k vocabulary") {
    import graft.operators.PrepOps
    val docs = Tables.read(spark, d, "documents")
    // redact/qualityFilter are pure per-row work: no Exchange anywhere
    Seq(PrepOps.redact(docs), PrepOps.qualityFilter(docs)).foreach { df =>
      val ex = df.queryExecution.executedPlan.collect { case e: Exchange => e }
      assert(ex.isEmpty, s"per-row prep operator shuffles:\n${df.queryExecution.executedPlan}")
    }
    // seqPack's window partitions by the prefix bucket — never one task
    val packed = PrepOps.seqPack(docs, 2048L)
    packed.collect()
    val ws = windows(packed.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the packing window")
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"single-partition WindowExec in seqPack:\n$w"))
    // vocabulary top-k plans as TakeOrderedAndProject, not a global sort
    assert(PrepOps.vocabTopK(docs, 20).queryExecution.executedPlan
      .toString.contains("TakeOrderedAndProject"))
  }

  test("round-7 queries keep their scale shapes: BPE packing window " +
      "distributed, composed funnel never cartesian, BPE vocab top-k") {
    // x68: the packing window under subword counts still partitions by the
    // prefix bucket; the segmentation is ONE projection expression (no
    // join, no shuffle added relative to x47)
    val x68 = SparkEntry.queries("x68_bpe_seq_pack")(spark, d)
    x68.collect()
    val ws68 = windows(x68.queryExecution.executedPlan)
    assert(ws68.nonEmpty, "expected the packing window")
    ws68.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"single-partition WindowExec in x68:\n$w"))
    // x69: three composed stages — still no cartesian product anywhere,
    // and every window keys on a distributing column
    val x69 = SparkEntry.queries("x69_production_corpus")(spark, d)
    x69.collect()
    val p69 = x69.queryExecution.executedPlan
    assert(!p69.toString.contains("CartesianProduct"),
      s"x69: cartesian product\n${p69.toString.take(1500)}")
    windows(p69).foreach(w => assert(w.partitionSpec.nonEmpty,
      s"x69 has a single-partition WindowExec:\n$w"))
    // x71: subword vocabulary top-k plans as TakeOrderedAndProject
    assert(plan("x71_bpe_vocab").contains("TakeOrderedAndProject"))
    // x70: decode census is scan → mapPartitions → one aggregation; no join
    val p70 = plan("x70_image_decode")
    assert(!p70.contains("Join") && !p70.contains("CartesianProduct"), p70.take(1500))
  }

  test("round-8 tranche keeps its scale shapes: boilerplate joins stay " +
      "key-distributed, funnel and sanity census are join-free single scans") {
    // x112/x113: the df aggregation and the flag (anti-)join share the span
    // key — no cartesian, no single-partition window anywhere
    Seq("x112_boilerplate", "x113_boilerplate_apply").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(!p.toString.contains("CartesianProduct"),
        s"$q: cartesian product\n${p.toString.take(1500)}")
      windows(p).foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q has a single-partition WindowExec:\n$w"))
    }
    // x114/x115: one scan, one aggregation — a join or window appearing in
    // either is a scale-shape regression (both are per-row expression work)
    Seq("x114_filter_funnel", "x115_embedding_sanity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q grew a join/window:\n${p.take(1500)}")
    }
    // x119/x121: per-row expression work + one census aggregation — the
    // intra-doc dedup's whole point is ZERO extra shuffles (array_distinct
    // inside the scan projection); fertility likewise never explodes
    Seq("x119_bpe_fertility", "x121_intradoc_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q grew a join/window:\n${p.take(1500)}")
      val nEx = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan
        .collect { case e: Exchange => e }.size
      assert(nEx <= 1, s"$q: expected only the census aggregation exchange, got $nEx")
    }
    // x122: exactly the window shuffle on user_id + the census aggregation;
    // the range frame must partition by user_id, never single-partition
    locally {
      val df = SparkEntry.queries("x122_trailing_window")(spark, d)
      df.collect()
      val p = df.queryExecution.executedPlan
      windows(p).foreach(w => assert(w.partitionSpec.nonEmpty,
        s"x122 has a single-partition WindowExec:\n$w"))
    }
  }

  test("round-8 third tranche keeps its scale shapes: heap top-k for hard " +
      "negatives, bloom prefilter at the fact scan, broadcast dims in the star join") {
    // x124: per-query top-k must run through the bounded-heap aggregate
    // (wide-group regime), never a corpus-wide window sort
    locally {
      val p = plan("x124_hard_negatives")
      assert(p.contains("ObjectHashAggregate"), s"x124 lost the heap aggregate:\n${p.take(1200)}")
      assert(!p.contains("WindowExec"), s"x124 regressed to a window sort:\n${p.take(1200)}")
    }
    // x123: both nearest-rank windows partition by event_type
    locally {
      val df = SparkEntry.queries("x123_mad_outliers")(spark, d)
      df.collect()
      windows(df.queryExecution.executedPlan).foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"x123 single-partition WindowExec:\n$w"))
    }
    // x126: the sketch probe must sit in a Filter, visible in the gate plan
    assert(plan("x126_bloom_join").contains("bloom_contains_long"),
      "x126 lost the bloom prefilter")
    // x130: the tiny dims broadcast; the star join must never cartesian
    locally {
      val p = plan("x130_local_supplier")
      assert(p.contains("BroadcastHashJoin"), s"x130 lost its broadcasts:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), s"x130 grew a cartesian:\n${p.take(1200)}")
    }
    // x131: the re-ranked cut is a TakeOrdered, not a global sort
    assert(plan("x131_retrieve_rerank").contains("TakeOrderedAndProject"),
      "x131 lost the top-k plan")
  }

  test("late round-8 tranche keeps its scale shapes: broadcast inverted-index " +
      "probe, partitioned percentile windows, no cartesian in the graph family") {
    // x141: the query vector joins the posting lists as a BROADCAST — the
    // corpus-side relation must never shuffle against a shuffled query side
    assert(plan("x141_sparse_topk").contains("BroadcastHashJoin"),
      "x141 lost the broadcast inverted-index probe")
    // x148/x150/x151: every percentile/CDF window partitions by its census
    // key — a single-partition window over these relations is a regression
    // (x128's control-relation window is the one documented exception)
    Seq("x148_ks_drift", "x150_interarrival", "x151_funnel_latency").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      windows(df.queryExecution.executedPlan).foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"$q single-partition WindowExec:\n$w"))
    }
    // x145/x152: the graph family must stay keyed — no cartesian anywhere
    Seq("x145_triangles", "x152_cluster_sizes").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$q grew a cartesian product")
    }
  }

  test("ledger verbs on a catalog ledger: broadcast overlap slice, day-pruned scans") {
    // A DDL'd ledger has no statistics, so the planner sizes it at
    // defaultSizeInBytes — unlike ledgerOf's LocalRelation, whose exact
    // size let any join broadcast. The self-join must broadcast its slice
    // anyway, and every ledger scan must prune by day partition.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.operators.{ContinuityOps, OverlapOps}
    object Aqe extends AdaptiveSparkPlanHelper
    val rows = ledgerOf(
      (1L, "p", "i", "2024-01-14 23:30:00", "2024-01-15 00:30:00", "completed"),
      (2L, "p", "i", "2024-01-15 00:15:00", "2024-01-15 01:00:00", "completed"),
      (3L, "p", "i", "2024-01-15 02:00:00", "2024-01-15 03:00:00", "completed"),
      (4L, "p", "i", "2024-01-16 00:00:00", "2024-01-16 01:00:00", "pending"))
    rows.createOrReplaceTempView("graft_plan_ledger_rows")
    graft.sources.LedgerTables.ensure(spark, "graft_plan_ledger")
    try {
      val cols = rows.columns.mkString(", ")
      spark.sql(s"INSERT INTO graft_plan_ledger ($cols) SELECT $cols FROM graft_plan_ledger_rows")
      val ledger = spark.table("graft_plan_ledger")
      def dayPruned(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
        Aqe.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
          s.partitionFilters.exists(_.references.exists(_.name == "query_window_start_day"))
        }
      val overlaps = OverlapOps.findOverlappingQueryWindows(ledger, "p", "i", "2024-01-15")
      val exec = overlaps.queryExecution.executedPlan
      assert(Aqe.collect(exec) { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty, exec)
      assert(Aqe.collect(exec) { case j: CartesianProductExec => j }.isEmpty, exec)
      assert(dayPruned(overlaps) == Seq(true, true), exec)
      val gaps = ContinuityOps.discontinuities(ledger, "p", "i", "2024-01-15")
      assert(dayPruned(gaps) == Seq(true), gaps.queryExecution.executedPlan)
      // same rows as over the exact-size relation
      assert(overlaps.collect().toSet == OverlapOps.findOverlappingQueryWindows(
        rows, "p", "i", "2024-01-15").collect().toSet)
      assert(overlaps.count() == 2) // records 1 and 2, both directions
      assert(gaps.collect().toSeq == ContinuityOps.discontinuities(
        rows, "p", "i", "2024-01-15").collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_plan_ledger")
  }

  test("bucketed tables sort-merge-join without any exchange") {
    val docs = Tables.read(spark, d, "documents")
    val emb = Tables.read(spark, d, "embeddings").select(col("vec_id"), col("label"))
    Sinks.saveAsBucketedTable(docs.select(col("doc_id"), col("lang")), "graft_docs_b", "doc_id", 8)
    Sinks.saveAsBucketedTable(emb.withColumnRenamed("vec_id", "doc_id"), "graft_emb_b", "doc_id", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("graft_docs_b").join(spark.table("graft_emb_b"), "doc_id")
      val exec = joined.queryExecution.executedPlan
      val exchanges = exec.collect { case e: Exchange => e }
      assert(exchanges.isEmpty, s"expected no shuffle, got:\n$exec")
      assert(joined.count() == 500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_docs_b")
      spark.sql("DROP TABLE IF EXISTS graft_emb_b")
    }
  }
}
