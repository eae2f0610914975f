package graft

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main (driver contract): times every SparkEntry query on
 * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
 *
 * Compile-aware measurement: each query runs `SPARK_GRAFT_BENCH_REPS`
 * times (default 3) back-to-back — the first run is recorded as `cold`
 * (it pays that query's one-time whole-stage-codegen compile plus any
 * not-yet-JITed machinery), the minimum of the remaining runs as `steady`
 * (the engine's repeatable per-query time, the number regressions are
 * judged on). Round 3 demonstrated why: with zero source changes the
 * single-shot bench moved ±40% on individual dedup queries purely from
 * which family member absorbed the shared codegen compile, masking any
 * real regression of that size. The headline `value` is the steady total;
 * the cold series is kept alongside it so launch-dominated costs stay
 * visible rather than silently discarded.
 *
 * A warm-up pass (session bring-up, parquet footers, JIT of the scan+agg
 * machinery) still runs before timing so even the cold series isn't
 * charged the fixed JVM startup cost — the bench target is per-query
 * engine time, not sbt/JVM launch.
 *
 * The streaming gates (five replay harnesses plus the x154 and x159
 * file-transport recovery gates) hold seconds of state-store commit churn
 * inside the same JVM as ~170 batch queries; alphabetical order once ran
 * them mid-suite, right before the x69/x71–x75 cluster whose steadies they
 * inflated. Batch queries therefore run first (sorted), the stream gates
 * last (sorted), with a GC barrier between, so no batch number is taken
 * downwind of a state store.
 *
 * Bench only measures: it reads no earlier record and passes or fails
 * nothing. Whether a change moved a query is decided by an interleaved
 * A/B of two trees on one host (`tools/bench_ab.py`), which reads each
 * side's detail record and the `boot_id`/`uptime_s` host facts.
 */
object Bench {

  /**
   * Per-query executor-resource tally (round 10): a listener accumulating
   * task-level shuffle read/write, spill, and scan-input bytes, snapshotted
   * around each query's rep block in the suite pass. Timing is untouched —
   * the only synchronization (waiting for the async listener bus to drain)
   * happens AFTER the last rep's clock stops — so steadies stay
   * protocol-identical to every prior record; the counters land in the
   * detail file only.
   *
   * Why: the scale story argues from steady-time ratios across the replica
   * and distinct fixtures, but time conflates compute with data movement.
   * Shuffle bytes are the direct 100 TB signal — an operator whose shuffle
   * grows superlinearly in input is a future bottleneck even while its
   * local[32] time looks flat — and per-task peak execution memory is the
   * "does a partition still fit an executor" gauge. Counters cover the
   * whole rep block (cold + steady, reps is constant per record), so
   * cross-fixture ratios compare like with like. `input_mb` is
   * best-effort only: it is fed from Hadoop FileSystem statistics, which
   * under-count the vectorized parquet reader's positioned reads on the
   * local filesystem (cached-block re-reads DO count) — trust the shuffle
   * and spill columns, read input as a floor.
   *
   * The bus has no public drain hook, so `settle` polls the event counter
   * until it is stable across two 25 ms reads (bounded at 2 s) — worst
   * case ~5 s of non-timed wall across the suite.
   */
  private[graft] final class ResourceTally extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val events = new AtomicLong
    private val shuffleRead = new AtomicLong
    private val shuffleWrite = new AtomicLong
    private val spillDisk = new AtomicLong
    private val spillMem = new AtomicLong
    private val input = new AtomicLong
    private val peakTaskMem = new AtomicLong

    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillDisk.addAndGet(m.diskBytesSpilled)
        spillMem.addAndGet(m.memoryBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
      events.incrementAndGet()
    }

    def snapshot(): Seq[Long] =
      Seq(shuffleRead.get, shuffleWrite.get, spillDisk.get, spillMem.get, input.get)
    def resetPeak(): Unit = peakTaskMem.set(0L)
    def peak(): Long = peakTaskMem.get

    /** Block until the listener bus is quiet (event count stable across two
      * polls), bounded — called only outside timed sections. */
    def settle(maxMs: Long = 2000L): Unit = {
      val deadline = System.nanoTime + maxMs * 1000000L
      var last = -1L
      var stable = 0
      while (stable < 2 && System.nanoTime < deadline) {
        val e = events.get
        if (e == last) stable += 1 else { stable = 0; last = e }
        Thread.sleep(25)
      }
    }
  }

  private val ResourceKeys = Seq(
    "shuffle_read_mb", "shuffle_write_mb", "spill_disk_mb", "spill_mem_mb",
    "input_mb")

  /** Generated classes Janino has compiled in this JVM so far, and their
    * total compile nanoseconds. A rep that compiles missed Spark's class
    * cache. Read only once a session exists: the first touch of
    * `CodeGenerator` fixes the cache size for the JVM. */
  private def codegenCompiles(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** One timed rep: its seconds (-1 when it failed) and the Janino compiles
    * it caused, read just outside its clock. */
  private final case class Rep(secs: Double, compiles: Long, compileNs: Long)

  /** The streaming gates: run LAST so their state-store churn
    * can't tax batch neighbors (round-8 drift cluster x69/x71–x75). */
  private val StreamTail = Set(
    "x102_scorecard_stream", "x106_drift_stream", "x120_ivf_stream",
    "x127_session_stream", "x146_window_stream", "x154_file_stream_recovery",
    "x159_prep_stream_recovery")

  /** This boot's kernel-assigned id (Linux; None elsewhere), a host fact
    * in every record: an A/B whose passes span two boots shows it. */
  private[graft] def currentBootId(): Option[String] =
    try {
      val p = java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id")
      if (java.nio.file.Files.isReadable(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Seconds since boot (Linux; None elsewhere) — locates the record
    * within its boot (cache/THP/fragmentation state drifts with uptime). */
  private[graft] def uptimeSeconds(): Option[Long] =
    try {
      val p = java.nio.file.Paths.get("/proc/uptime")
      if (java.nio.file.Files.isReadable(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .split("\\s+").headOption.map(_.toDouble.toLong)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }


  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = GraftSession.defaultCores
    val reps = math.max(2, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // An explicit SPARK_GRAFT_BENCH_OUT stays CWD-relative (the caller asked
    // for that path); the stdout line advertises the ABSOLUTE path either way.
    val outOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(p => java.nio.file.Paths.get(p).toAbsolutePath)

    // Default records resolve against the REPO ROOT (walk up from this
    // class's code source to the nearest build.sbt), not the CWD — a bench
    // launched from elsewhere would otherwise silently grow a docs/ tree
    // there. CodeSource (or its location) can legitimately be null under
    // launcher/boot classloaders — fall back to the CWD rather than dying
    // before any output is written.
    lazy val docsDir: java.nio.file.Path = {
      val codeSrc = for {
        cs <- Option(Bench.getClass.getProtectionDomain.getCodeSource)
        loc <- Option(cs.getLocation)
      } yield java.nio.file.Paths.get(loc.toURI)
      codeSrc
        .flatMap(start => Iterator.iterate(start)(_.getParent)
          .takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt"))))
        .getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
        .resolve("docs")
    }

    val spark = GraftSession.local(cores)
    // Shuffle-partition override (round 17, verdict ask 2): the contract
    // default stays the core count — every canonical record is comparable —
    // but scale probes need to vary reducer count independently of cores
    // (the x52 300×d spill attribution: ~930 MB/reducer at 32 partitions
    // is a LOCAL-CONF artifact, not an operator property; proving that
    // takes one run at a higher conf on the same cores).
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")

    // Warm-up: touch every table's footer + exercise scan/shuffle/agg codegen.
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.read(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => }
    }
    try {
      graft.sources.Tables.pipelineRuns(spark, sfDir)
        .groupBy("pipeline_status").count().collect()
    } catch { case _: Throwable => }

    // (name, reps): rep 1 is cold, min of reps 2..n is steady. Reps run
    // back-to-back per query so the steady runs reuse the compiled plan;
    // the plan-keyed caches (funnel/shingle) are CLEARED before each
    // query's rep block (see measure), so rep 1 builds the query's own
    // entries and the steady reps reuse them — per-query numbers no longer
    // depend on which suite neighbors ran first.
    // Optional comma-separated name filter for isolation runs (measuring
    // one query without the rest of the suite's GC/JIT neighborhood).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // MATERIALIZATION (round-10 integrity fix): a noop-sink WRITE, not
    // .count(). Counting re-optimizes the plan with only the row count as
    // the required output, and ColumnPruning then deletes every expression
    // that cannot change cardinality: a global aggregate's agg list empties
    // (e1's countDistinct(md5(...)) became `Aggregate <empty>` over a
    // zero-column scan — 3.4 KB of parquet footers read from a 10 MB
    // table, 46 shuffle bytes), final computed projections vanish, and
    // EliminateSorts drops result ordering. Every record before this fix
    // under-measured exactly the queries whose cost lives in those pruned
    // expressions. The noop write executes the plan with ALL output
    // columns required — full scan, full aggregation, full projection —
    // while discarding rows at the sink, so nothing is collected to the
    // driver (pair-census outputs at probe scale would OOM a collect()).
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Rep] = {
      // Deterministic cache state per query (round-11, from the round-10
      // x42 adjudication): the funnel/shingle caches are plan-keyed and
      // SHARED across queries, so a query's rep-1 cost depended on which
      // suite neighbors had already populated its entries — x42 read
      // 1.0–1.6 s in-suite vs ~1.9 s isolated purely by suite history.
      // Dropping every cached plan before the rep block makes rep 1 a true
      // cold build of the query's OWN caches and the steady reps its own
      // warm reuse, identical in-suite and isolated. Sits outside the
      // timed region; localCheckpoints are per-execution and unaffected.
      spark.catalog.clearCache()
      // Label every job with its query name (optimization guide §1.5) so
      // event-log profiles attribute jobs/stages/bytes per query without
      // time-window reconstruction. Thread-local string set — nanoseconds,
      // not a timed-path change; streaming queries' micro-batch threads
      // set their own descriptions and are unaffected.
      spark.sparkContext.setJobDescription(s"bench:$name")
      (1 to reps).map { i =>
        val (n0, ns0) = codegenCompiles()
        val t0 = System.nanoTime()
        // A failed query must be VISIBLE: a swallowed exception records its
        // time-to-throw as if it were a measurement (a 0.1 s "steady" that
        // masked a missing function registration in a name-filtered run).
        // A failed rep records the -1 sentinel — its time-to-throw must not
        // leak into the cold/steady aggregates either — and the error goes
        // to stderr.
        val secs = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name rep $i FAILED: $e")
          -1.0
        }
        val (n1, ns1) = codegenCompiles()
        Rep(secs, n1 - n0, ns1 - ns0)
      }
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))

    // WARMUP SUITE PASS (round 13, verdict ask 5): one DISCARDED pass of
    // every selected query before any timing. The engine machinery JITs
    // during the warmup, so the recorded cold series does not carry
    // whatever global JIT its suite position happened to absorb. It does
    // NOT keep a query's generated classes for its timed reps: the suite
    // compiles thousands of classes (planning and executor copies), far more
    // than Spark's class cache holds (GraftSession.CodegenCacheEntries), so
    // by the time a query's reps run its warmup classes are evicted and
    // rep 1 compiles them again. Rep 1 is
    // therefore the query's own codegen compile plus its own cache build
    // (the per-rep-block clearCache below); the steady reps reuse both,
    // except where a query's generated source changes from run to run (the
    // stream gates, AQE renumbering codegen stages). The detail record's
    // per-rep `codegen_compiles` shows which. Disable with
    // SPARK_GRAFT_BENCH_WARMUP=none (the A/B tool's interleaved passes warm
    // each other; it opts out).
    val warmupMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "suite")
    val warmupS: Double =
      if (warmupMode == "suite" && selected.nonEmpty) {
        val t0 = System.nanoTime()
        selected.foreach { case (name, fn) =>
          spark.catalog.clearCache()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"bench: warmup pass $name failed: $e")
          }
        }
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      } else 0.0

    // Executor-resource counters per query. Snapshots happen strictly
    // outside the timed reps, so the measurement protocol is unchanged.
    val tally = new ResourceTally
    spark.sparkContext.addSparkListener(tally)
    def measureTallied(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Seq[Rep], Seq[Long]) = {
      tally.settle()
      val before = tally.snapshot()
      tally.resetPeak()
      val measured = measure(name, fn)
      tally.settle()
      (measured, tally.snapshot().zip(before).map { case (a, b) => a - b } :+ tally.peak())
    }

    // Batch first, stream gates last (sorted within each block).
    val (streamQs, batchQs) = selected.partition(q => StreamTail.contains(q._1))
    val results = batchQs.map { case (name, fn) => (name, measureTallied(name, fn)) } ++ {
      if (streamQs.nonEmpty) { System.gc(); Thread.sleep(200) }
      streamQs.map { case (name, fn) => (name, measureTallied(name, fn)) }
    }

    def cold(t: Seq[Rep]) = t.head.secs
    def steady(t: Seq[Rep]) = { val ok = t.tail.map(_.secs).filter(_ >= 0); if (ok.nonEmpty) ok.min else -1.0 }

    // -1 sentinel reps are excluded everywhere: a query whose every warm rep
    // failed reports steady = -1 (visibly broken), and failed queries never
    // deflate the totals.
    val steadyTotal = results.map { case (_, (rs, _)) => steady(rs) }.filter(_ >= 0).sum
    val coldTotal = results.map { case (_, (rs, _)) => cold(rs) }.filter(_ >= 0).sum
    val nFailed = results.count { case (_, (rs, _)) => rs.exists(_.secs < 0) }
    def tenths(x: Double): Double = math.round(x * 10) / 10.0
    // The driver JVM's max heap, in BINARY GiB so the value matches the
    // -Xmx launch flag (an -Xmx24g driver records 24.0, not 25.8 decimal GB).
    val heapGb = tenths(Runtime.getRuntime.maxMemory / (1L << 30).toDouble)
    val notes = "one discarded warmup suite pass before timing (JIT only: " +
      "the suite's generated classes exceed Spark's class cache, so cold = " +
      "the query's own codegen compile and cache build, see codegen_compiles " +
      "per rep; disable with SPARK_GRAFT_BENCH_WARMUP=none); steady=min of " +
      "warm reps, cold=first timed run; stream gates run as the suite tail; " +
      "full per-rep series in the detail file; resources (MB) cover the " +
      "whole rep block per query; compare two trees with tools/bench_ab.py"
    // A name-filtered run measures a PARTIAL suite: never let it clobber
    // the canonical full-suite records — divert the default detail file
    // and skip the BENCH_line.json copy (explicit SPARK_GRAFT_BENCH_OUT
    // still goes exactly where the caller pointed it).
    val outFile = outOverride.getOrElse(docsDir.resolve(
      if (only.isDefined) "BENCH_filtered_latest.json" else "BENCH_full_latest.json"))
    // Fields shared by the detail record and the compact line; `cores` is
    // the local thread count, which follows the host unless
    // SPARK_GRAFT_CPUS pins it.
    val header = Seq("metric" -> "total_steady", "value" -> steadyTotal, "unit" -> "sec")
    val runFields = Seq("total_cold" -> coldTotal, "reps" -> reps,
      "boot_id" -> currentBootId().getOrElse("unknown"),
      "uptime_s" -> uptimeSeconds().getOrElse(-1L), "heap_gb" -> heapGb, "cores" -> cores,
      "warmup" -> warmupMode, "warmup_s" -> tenths(warmupS), "sf" -> sfDir)
    // Full audit record as a repo file: the stdout line was truncated in
    // the round-3/4 driver records, so the complete cold+steady+per-rep
    // series must be readable without re-running the bench.
    val queries = VectorMap(results.map { case (n, (rs, c)) =>
      n -> VectorMap(
        "cold" -> cold(rs), "steady" -> steady(rs), "reps" -> rs.map(_.secs),
        // Resource counters (MB, whole rep block): shuffle read/write,
        // disk/mem spill, scan input, then the max per-task peak execution
        // memory — the cross-fixture scale signals.
        "resources" -> VectorMap((ResourceKeys.zip(c) :+ ("peak_task_mem_mb" -> c.last))
          .map { case (k, v) => k -> tenths(v / 1e6) }: _*),
        // Janino compiles per rep of the same block: classes the rep did
        // not find in Spark's class cache, and their compile time.
        "codegen_compiles" -> rs.map(_.compiles),
        "codegen_ms" -> rs.map(r => tenths(r.compileNs / 1e6)))
    }: _*)
    val full = Json.pretty(VectorMap(header ++ runFields ++
      Seq("notes" -> notes, "queries" -> queries): _*)) + "\n"
    try {
      Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outFile, full.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: could not write $outFile: $e")
    }
    // ONE compact JSON line for the driver: the steady per-query map only
    // (the cold/per-rep series live in the detail file — the two-series
    // line was what overflowed the driver's captured tail). `value` stays
    // the steady total, as introduced in round 4; the metric name says so
    // explicitly so cross-round trending tools compare like with like.
    val steadyMap = VectorMap(results.map { case (n, (rs, _)) => n -> steady(rs) }: _*)
    val line = Json.write(VectorMap(header ++ Seq("queries" -> steadyMap) ++ runFields :+
      ("detail" -> outFile.toString): _*))
    // The line ALSO lands in a known repo file: three rounds of driver
    // records failed to parse the sbt-logged stdout copy ("[info] "
    // prefix), so a machine-readable copy must exist independent of how
    // the launcher captures stdout. Only a canonical run writes it: a
    // name-filtered run's totals would masquerade as the full suite's, a
    // run with an explicit output path is a probe (another scale factor,
    // an A/B pass), and a shuffle-partition override is a probe
    // configuration whose steadies are not the contract's.
    if (only.isEmpty && outOverride.isEmpty && shufflePartitions == cores.toString) {
      try java.nio.file.Files.write(docsDir.resolve("BENCH_line.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: could not write BENCH_line.json: $e")
      }
    }
    println(line)
    // The stdout copy has failed to parse in four consecutive driver
    // records (sbt's "[info] " prefix, then tail truncation once the
    // suite grew past the captured-tail size). stderr is NOT wrapped by
    // sbt's log formatter, so a raw copy there gives the driver a second,
    // prefix-free capture channel; the line stays compact (steady map
    // only) so it fits any reasonable tail window.
    System.err.println(line)
    // FIFTH-strike fix: even the steady-map-only line outgrew the driver's
    // captured tail at 121 queries (BENCH_r07 again started mid-JSON). The
    // LAST thing on both streams is therefore a totals-only line (~100
    // bytes) that survives any tail window; the per-query map lives one
    // line up and in the detail file.
    val totals = Json.write(VectorMap(header ++ Seq("total_cold" -> coldTotal,
      "n" -> results.size, "n_failed" -> nFailed, "sf" -> sfDir, "cores" -> cores): _*))
    println(totals)
    System.err.println(totals)
    spark.stop()
  }
}
