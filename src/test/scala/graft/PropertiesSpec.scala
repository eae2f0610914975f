package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{ContinuityOps, OverlapOps, SimilarityOps, StatusOps}

/**
 * Property-style tests (SURVEY.md §5.3): seeded random window sets, invariants
 * of the reference semantics checked against in-memory oracles.
 */
class PropertiesSpec extends SparkSpec {

  private def randomWindows(seed: Int, n: Int = 25): List[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    List.fill(n) {
      val s = rnd.nextInt(1300)
      (s, s + 1 + rnd.nextInt(90))
    }
  }

  private def toLedger(ws: List[(Int, Int)]) =
    ledgerOf(ws.zipWithIndex.map { case ((s, e), i) =>
      ((i + 1).toLong, "p", "i",
        f"2024-01-15 ${s / 60}%02d:${s % 60}%02d:00",
        f"2024-01-15 ${e / 60}%02d:${e % 60}%02d:00",
        if (i % 2 == 0) "pending" else "completed")
    }: _*)

  test("overlap self-join matches an in-memory oracle, is symmetric; banded rewrite identical") {
    (1 to 5).foreach { seed =>
      val ws = randomWindows(seed)
      val l = toLedger(ws)
      val got = OverlapOps.findOverlappingQueryWindows(l, "p", "i", "2024-01-15")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getTimestamp(2).getTime / 60000))
        .toSet
      val base = java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime / 60000
      val expected = (for {
        (a, i) <- ws.zipWithIndex; (b, j) <- ws.zipWithIndex
        if i != j && a._1 < b._2 && a._2 > b._1 && a._1 != b._1
      } yield (base + a._1, base + b._1)).toSet
      assert(got == expected, s"seed=$seed")
      assert(got.map { case (x, y) => (y, x) } == got, s"seed=$seed not symmetric")
      // every bucket size must give the identical result set — including
      // multi-hour buckets, which a calendar-truncation grid would break
      Seq(60, 120, 45, 7).foreach { mins =>
        val banded = OverlapOps.overlappingWindowsBanded(l, "p", "i", "2024-01-15", mins)
          .collect()
          .map(r => (r.getTimestamp(0).getTime / 60000, r.getTimestamp(2).getTime / 60000))
          .toSet
        assert(banded == got, s"seed=$seed bucket=${mins}m banded rewrite diverges")
      }
    }
  }

  test("top-1 pick is the minimum of the filtered set with record_id tie-break") {
    (10 to 14).foreach { seed =>
      val ws = randomWindows(seed)
      val l = toLedger(ws)
      val pending = ws.zipWithIndex.collect { case ((s, _), i) if i % 2 == 0 => (s, i + 1) }
      val picked = StatusOps.headAsIsoMap(StatusOps.oldestByStatus(l, "pending"))
      val (_, minId) = pending.minBy { case (s, id) => (s, id) }
      assert(picked.get("record_id").toLong == minId.toLong, s"seed=$seed")
    }
  }

  test("gap detector over an abutting sequence is empty; shuffled input order irrelevant") {
    val abut = new scala.util.Random(7)
      .shuffle(List.tabulate(30)(i => (i * 40, (i + 1) * 40)))
    assert(ContinuityOps.discontinuities(toLedger(abut), "p", "i", "2024-01-15").isEmpty)
  }

  test("partition-rewrite UPDATE then DELETE match an in-memory oracle on random ledgers") {
    import graft.sources.LedgerTables
    (40 to 42).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val statuses = Vector("pending", "failed", "completed")
      val rows = (1 to 60).map { i =>
        val day = 10 + rnd.nextInt(4)
        (i.toLong, "p", "i",
          f"2024-02-$day%02d 0${rnd.nextInt(9)}:00:00",
          f"2024-02-$day%02d 10:00:00",
          statuses(rnd.nextInt(3)))
      }
      val tmp = tempDir(s"graft_dml$seed").toString
      LedgerTables.write(ledgerOf(rows: _*).repartition(4), tmp)
      val nUpd = LedgerTables.updateWhere(spark, tmp,
        col("pipeline_status") === "failed",
        Seq("pipeline_status" -> lit("pending")))
      assert(nUpd == rows.count(_._6 == "failed").toLong, s"seed=$seed update count")
      val afterUpdate = rows.map { r =>
        if (r._6 == "failed") r.copy(_6 = "pending") else r
      }
      val nDel = LedgerTables.deleteWhere(spark, tmp,
        col("record_id") % 3 === 0 && col("pipeline_status") === "pending")
      val expectDeleted = afterUpdate.count(r => r._1 % 3 == 0 && r._6 == "pending")
      assert(nDel == expectDeleted.toLong, s"seed=$seed delete count")
      val got = LedgerTables.read(spark, tmp)
        .select(col("record_id"), col("pipeline_status")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = afterUpdate
        .filterNot(r => r._1 % 3 == 0 && r._6 == "pending")
        .map(r => (r._1, r._6)).toSet
      assert(got == want, s"seed=$seed surviving rows diverge from the oracle")
    }
  }

  test("capped LSH pair generation preserves the dedup loser set for any cap") {
    import graft.operators.DedupOps
    // random corpora of duplicate CLUSTERS (identical texts) plus unique
    // docs: for every cap, capped and uncapped runs must name the same
    // losers (every non-minimum member of each cluster) — the star rewrite
    // changes which edges are emitted, never who gets deduplicated.
    (30 to 33).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      var id = 0L
      val rows = ((0 until 4).flatMap { c =>
        val clusterText = (0 until 60).map(j => s"s${seed}c${c}w$j").mkString(" ")
        (0 until (2 + rnd.nextInt(30))).map { _ => id += 1; (id, clusterText, "en", "s") }
      } ++ (0 until 5).map { u =>
        id += 1; (id, (0 until 60).map(j => s"s${seed}u${u}w$j").mkString(" "), "en", "s")
      })
      val corpus = docsOf(rows: _*)
      def losers(cap: Int): Set[Long] =
        DedupOps.minhashLsh(corpus, 0.9, maxBucketSize = cap).collect()
          .map(r => r.getLong(1)).toSet
      val uncapped = losers(1 << 20)
      Seq(1, 2, 7, 16).foreach { cap =>
        assert(losers(cap) == uncapped, s"seed=$seed cap=$cap diverges")
      }
    }
  }

  test("label-propagation components equal union-find components on any graph") {
    import spark.implicits._
    import graft.operators.DedupOps
    def check(name: String, edges: Seq[(Long, Long)]): Unit = {
      val df = edges.toDF("doc_a", "doc_b")
      val prop = DedupOps.connectedComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // under the default SmallGraphEdges bound the adaptive operator
      // resolves these graphs on the driver by union-find
      val uf = DedupOps.connectedComponentsAdaptive(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(uf == prop, s"$name: union-find $uf != propagation $prop")
    }
    // a long chain (diameter = n−1): the most label-propagation rounds
    check("chain", (1L until 20L).map(i => (i, i + 1)))
    // a clique plus a pendant, and two disjoint components
    check("clique+pendant",
      (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) :+ (5L -> 99L))
    check("disjoint", Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L)))
    // random graphs across densities (deterministic seeds)
    (40 to 42).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = (0 until 45).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      check(s"random-$seed", edges)
    }
  }

  test("bucketed embedding near-dup equals the brute-force pair set") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def corpus(seed: Int, n: Int, clustered: Boolean) = {
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat))
      (0L until n.toLong).map { id =>
        val v =
          if (clustered) {
            val c = centers(rnd.nextInt(4))
            c.map(x => x + 0.15f * rnd.nextGaussian().toFloat).toSeq
          } else Array.fill(8)(rnd.nextGaussian().toFloat).toSeq
        (id, v)
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    }
    for {
      seed <- 1 to 3
      clustered <- Seq(true, false)
      threshold <- Seq(0.4, 0.8, 0.95)
    } {
      val emb = corpus(seed, 60, clustered)
      val brute = SimilarityOps.embeddingNearDupBrute(emb, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // small centroidMod → many cells; large → few cells; 61 → no centroid
      // except vec_id 0, forcing the widest pruning radius. All must be exact.
      Seq(7, 20, 59).foreach { mod =>
        val bucketed = SimilarityOps.embeddingNearDup(emb, threshold, mod)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(bucketed == brute,
          s"seed=$seed clustered=$clustered t=$threshold mod=$mod: bucketed diverges")
      }
    }
  }

  test("distributed running total equals the global window on random data and bucket widths") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (30 to 32).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val df = (1 to 400).map { id =>
        (f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d", id.toLong,
          rnd.nextInt(1000).toLong)
      }.toDF("ds", "id", "v").select(to_date(col("ds")).as("d"), col("id"), col("v"))
      val global = df.withColumn("rt", sum(col("v")).over(
          Window.orderBy(col("d"), col("id")).rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("id"), col("rt")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // any order-aligned bucketing must reproduce the global cumulative sum
      Seq(date_trunc("month", col("d")), date_trunc("quarter", col("d")),
          date_trunc("week", col("d"))).foreach { bucket =>
        val dist = graft.operators.WindowOps.runningTotal(
            df, bucket, Seq(col("d"), col("id")), col("v"), "rt")
          .select(col("id"), col("rt")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(dist == global, s"seed=$seed bucket=$bucket")
      }
    }
  }

  test("distributed running total keeps NULL-bucket rows and matches the global window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Option("2024-01-15"), 1L, 10L), (Option.empty[String], 2L, 5L),
      (Option("2024-02-01"), 3L, 7L), (Option("2024-01-20"), 4L, 2L),
      (Option.empty[String], 5L, 1L))
      .toDF("ds", "id", "v")
      .select(to_date(col("ds")).as("d"), col("id"), col("v"))
    val dist = graft.operators.WindowOps.runningTotal(
        df, date_trunc("month", col("d")), Seq(col("d"), col("id")), col("v"), "rt")
      .select(col("id"), col("rt")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val global = df.withColumn("rt", sum(col("v")).over(
        Window.orderBy(col("d"), col("id")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("id"), col("rt")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == global, s"dist=$dist global=$global")
  }

  test("count-by-status equals the generator tally") {
    (20 to 22).foreach { seed =>
      val ws = randomWindows(seed)
      val n = StatusOps.countByStatus(toLedger(ws), "pending").collect().head.getLong(0)
      assert(n == ws.indices.count(_ % 2 == 0), s"seed=$seed")
    }
  }
}
