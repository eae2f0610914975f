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
 * A warm-up pass (session bring-up, parquet footers, codegen/JIT of the
 * scan+agg machinery) still runs before timing so even the cold series
 * isn't charged the fixed JVM startup cost — the bench target is per-query
 * engine time, not sbt/JVM launch.
 *
 * Two round-9 integrity mechanisms, both born from the round-8 record
 * being environment-polluted (17 carried queries jumped 2–17× with no
 * code change; the clean 172-query run a day earlier showed none of it):
 *
 *  1. OUTLIER GUARD — after the suite pass, any query whose steady
 *     exceeds `SPARK_GRAFT_BENCH_GUARD` (default 2.0)× its previously
 *     COMMITTED steady (read from docs/BENCH_line.json, the canonical
 *     full-suite record) is re-measured in isolation at the very end
 *     (post-GC, out of its original suite neighborhood). The BETTER of
 *     the two steadies is recorded — a genuine regression reproduces in
 *     isolation and keeps its number; a GC/JIT-neighborhood spike
 *     reverts — and the substitution is noted per-query in the detail
 *     record (`first_steady`), so nothing is silently rewritten.
 *  2. STREAM-GATE TAIL — the six streaming gates (five replay harnesses
 *     plus the x154 file-transport recovery gate) hold seconds of
 *     state-store commit churn inside the same JVM as ~170 batch
 *     queries; alphabetical order ran them MID-suite, right before the
 *     x69/x71–x75 drift cluster they were taxing. Batch queries now run
 *     first (sorted), the stream gates last (sorted), with a GC barrier
 *     between — batch numbers never execute downwind of a state store.
 *
 * And one round-10 integrity mechanism, born from the round-9 host
 * reboot (IO/state-heavy queries ~25 % slower with zero code change;
 * a day of manual adjudication to prove it was environment):
 *
 *  3. BOOT FINGERPRINT — every record carries the kernel's boot_id +
 *     uptime, because steadies are only regression-comparable within
 *     one host boot. When the committed record's boot differs from the
 *     current one, the outlier guard ANNOTATES (`cross_boot_vs_prior`)
 *     instead of firing — a host shift must not trigger a wave of
 *     spurious isolation re-runs, and cross-boot deltas are judged via
 *     scale-probe ratios, not absolute steadies.
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

  /** The streaming gates: run LAST so their state-store churn
    * can't tax batch neighbors (round-8 drift cluster x69/x71–x75). */
  private val StreamTail = Set(
    "x102_scorecard_stream", "x106_drift_stream", "x120_ivf_stream",
    "x127_session_stream", "x146_window_stream", "x154_file_stream_recovery",
    "x159_prep_stream_recovery")

  private def benchLine(docsDir: java.nio.file.Path) =
    Json.readObject(docsDir.resolve("BENCH_line.json"))
  private def floorBestRecord(docsDir: java.nio.file.Path) =
    Json.readObject(docsDir.resolve("FLOOR_BEST.json"))
  /** A kernel boot id is hex and dashes; anything else (an "unknown" boot
    * written by a host without /proc) reads as no fingerprint. */
  private def bootIdOf(n: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Json.text(n, "boot_id").filter(_.matches("[0-9a-fA-F-]+"))

  /** Steady map of the previously COMMITTED full-suite record
    * (docs/BENCH_line.json's `queries` object). Missing/unreadable file, or
    * a record measured at a DIFFERENT scale factor than `sfDir` (steadies
    * aren't comparable across sf), → empty map → the guard never fires. */
  private[graft] def priorSteady(docsDir: java.nio.file.Path, sfDir: String): Map[String, Double] =
    benchLine(docsDir).filter(Json.text(_, "sf").contains(sfDir))
      .map(j => Json.numbers(j.path("queries"))).getOrElse(Map.empty)

  /** Boot fingerprint of the committed record (round 10): steadies are
    * only regression-comparable within one host boot — the round-9 reboot
    * shifted IO/state-heavy queries ~25 % with zero code change and cost a
    * day of manual adjudication. None on a pre-round-10 record (no
    * fingerprint field) or an unreadable file. */
  private[graft] def priorBootId(docsDir: java.nio.file.Path): Option[String] =
    benchLine(docsDir).flatMap(bootIdOf)

  /** The three boot-relative floor probes (ms each): dependent-chain CPU
    * (clock/steal), 64 MB fsync'd write+read (IO floor), one fixed
    * all-core Spark range-sum (scheduler floor). Each runs once discarded
    * then once recorded; ~1–2 s total. Values are HOST state, comparable
    * across records on the same hardware class. */
  private def floorProbes(
      spark: SparkSession,
      probeDir: java.nio.file.Path): Seq[(String, Double)] = {
    def cpuMs(): Double = {
      var x = 1.000000001d
      var i = 0
      val t0 = System.nanoTime()
      while (i < 100000000) { x = x * 1.000000001d + 1e-12d; i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6
      if (x.isNaN) System.err.println("floor: cpu chain NaN") // keep x live
      ms
    }
    def diskMs(): Double = {
      import java.nio.file.StandardOpenOption._
      // probeDir, not java.io.tmpdir: on hosts where /tmp is tmpfs the
      // 64 MB write+force+read measures MEMORY, muting exactly the
      // cross-boot IO-drift signal this record exists to capture
      // (round-13 ADVICE). The caller passes the artifact directory's
      // filesystem (override: SPARK_GRAFT_BENCH_TMP) and the record
      // names the probed path.
      val f = java.nio.file.Files.createTempFile(probeDir, "graft_floor_", ".bin")
      try {
        val buf = new Array[Byte](1 << 20)
        java.util.Arrays.fill(buf, 42.toByte)
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(f, WRITE)
        try {
          var i = 0
          while (i < 64) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
          ch.force(true)
        } finally ch.close()
        val n = java.nio.file.Files.readAllBytes(f).length
        val ms = (System.nanoTime() - t0) / 1e6
        if (n != (64 << 20)) System.err.println(s"floor: short read $n")
        ms
      } finally java.nio.file.Files.deleteIfExists(f)
    }
    def sparkMs(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    cpuMs(); diskMs(); sparkMs() // discarded JIT/codegen pass
    Seq("cpu_ms" -> cpuMs(), "disk_ms" -> diskMs(), "spark_ms" -> sparkMs())
  }

  /** Best committed floor probes (docs/FLOOR_BEST.json) — the elementwise
    * minimum over every canonical record this bench has committed, i.e.
    * the quietest state this host class has demonstrated. The FLOOR GATE
    * (round 15, verdict ask 1) compares a canonical run's probes against
    * these: the round-14 record was ~18 % host weather (median per-query
    * norm 1.154 with floors disk 306 vs 215 ms, no code delta in the
    * interleaved A/B), and that inflated baseline then fed the outlier
    * guard's own 2.0× trigger and the round-over-round trend. Missing or
    * unreadable file → empty map → the gate re-anchors from this run's
    * probe rounds. */
  private[graft] def floorBest(docsDir: java.nio.file.Path): Map[String, Double] =
    floorBestRecord(docsDir).map(Json.numbers).getOrElse(Map.empty)

  /** Boot under which FLOOR_BEST was anchored (absent on a pre-boot-aware
    * file). Floors are only gate-comparable within one boot — the same
    * reason the outlier guard is boot-aware: this host's disk floor moved
    * 183 → ~270 ms across the round-14/15 boot with no code change, and a
    * cross-boot 1.3× gate would simply never pass again. */
  private[graft] def floorBestBoot(docsDir: java.nio.file.Path): Option[String] =
    floorBestRecord(docsDir).flatMap(bootIdOf)

  /** Probe path under which FLOOR_BEST was anchored (absent on a
    * pre-path-aware file, which was always written from a default-dir
    * run). Floors are only gate-comparable when probed on the SAME
    * filesystem: floorDir follows SPARK_GRAFT_BENCH_TMP, so a run probing
    * a faster tmp fs would otherwise min-fold its disk_ms into FLOOR_BEST
    * and make later default-dir canonical runs on the same boot spuriously
    * fail the gate (round-16 ADVICE) — the per-run floor record keeps a
    * path field for exactly this comparability reason. */
  private[graft] def floorBestPath(docsDir: java.nio.file.Path): Option[String] =
    floorBestRecord(docsDir).flatMap(Json.text(_, "path")).filter(_.nonEmpty)

  /** This boot's kernel-assigned id (Linux; None elsewhere) — written
    * into every record so cross-round tooling can tell host drift from
    * code regressions without hand analysis. */
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
    // Guard threshold: steady > guard × prior committed steady AND the
    // absolute excess is > 0.25 s (sub-quarter-second wobble on a 0.1 s
    // query is launch-floor jitter, not a signal worth a re-run).
    val guardFactor = sys.env.getOrElse("SPARK_GRAFT_BENCH_GUARD", "2.0").toDouble

    // Default detail path resolves against the REPO ROOT (walk up from
    // this class's code source to the nearest build.sbt), not the CWD — a
    // bench launched from elsewhere would otherwise silently grow a docs/
    // tree there. Explicit SPARK_GRAFT_BENCH_OUT stays CWD-relative (the
    // caller asked for that path); the stdout line advertises the
    // ABSOLUTE path either way.
    val docsDir = sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => java.nio.file.Paths.get(p).toAbsolutePath.getParent
      case None =>
        // CodeSource (or its location) can legitimately be null under
        // launcher/boot classloaders — fall back to the CWD rather than
        // dying before any output is written
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
    val prior = priorSteady(docsDir, sfDir)
    // CROSS-BOOT ANNOTATION (round 10): when the committed record was
    // measured under a different host boot, per-query steadies are not
    // regression-comparable (the round-9 reboot moved IO/state queries
    // ~25 % with no code change) — the guard ANNOTATES instead of firing,
    // so a host shift can never trigger a wave of spurious isolation
    // re-runs, and the record carries the flag for cross-round tooling.
    val curBoot = currentBootId()
    val prevBoot = priorBootId(docsDir)
    val crossBoot = curBoot.isDefined && prevBoot.isDefined && curBoot != prevBoot
    if (crossBoot)
      System.err.println("bench: committed record is from a different boot " +
        s"(${prevBoot.get} -> ${curBoot.get}); outlier guard disabled for " +
        "this run — judge cross-boot deltas via scale-probe ratios, not " +
        "absolute steadies")

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
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Double] = {
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
        val t0 = System.nanoTime()
        // A failed query must be VISIBLE: a swallowed exception records its
        // time-to-throw as if it were a measurement (a 0.1 s "steady" that
        // masked a missing function registration in a name-filtered run).
        // A failed rep records the -1 sentinel — its time-to-throw must not
        // leak into the cold/steady aggregates either — and the error goes
        // to stderr.
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name rep $i FAILED: $e")
          -1.0
        }
      }
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))

    // BOOT-RELATIVE FLOOR PROBES (round 13, verdict ask 5): three fixed
    // micro-measurements of the HOST — a single-thread dependent-chain
    // CPU loop, a 64 MB fsync'd write+read, and one fixed all-core Spark
    // range-sum job — recorded in every bench JSON. Round 12's canonical
    // swung +20 % on a reboot and the raw record lost cross-round
    // meaning; with the floors in the record, a cross-boot comparison can
    // check whether the HOST moved before blaming the code. Each probe
    // runs once discarded (JIT/codegen) and once recorded.
    val floorDir = sys.env.get("SPARK_GRAFT_BENCH_TMP")
      .map(p => java.nio.file.Paths.get(p).toAbsolutePath)
      .getOrElse(docsDir)

    // FLOOR ACCEPTANCE GATE (round 15, verdict ask 1): a CANONICAL run
    // (full suite, default output — the one that overwrites
    // BENCH_line.json and feeds the outlier guard + round trend) only
    // commits when the host floor is quiet: all three probes within
    // SPARK_GRAFT_FLOOR_GATE (default 1.3)× the best committed floor
    // (docs/FLOOR_BEST.json). A loud floor retries the probes up to
    // SPARK_GRAFT_FLOOR_RETRIES (default 3) times spaced
    // SPARK_GRAFT_FLOOR_RETRY_S (default 30) seconds; if still loud, the
    // run proceeds and reports normally (the driver still needs its
    // record) but the BENCH_line.json copy is DEFERRED — the canonical
    // baseline stays the last quiet record, annotated floor_gate:"fail"
    // in this run's outputs. Why: the round-14 canonical (170.0 s vs
    // r13's 143.5) was ~18 % broad-based host weather with zero code
    // delta in the interleaved A/B, and the inflated record then
    // re-armed the bench's own 2.0× remeasure trigger. The gate is
    // boot-scoped (see below); SPARK_GRAFT_FLOOR_GATE=0 disables it
    // outright for controlled experiments.
    // a shuffle-partition override is a PROBE configuration: its steadies
    // are not comparable to contract records, so it must never become the
    // canonical baseline (same reasoning as name-filtered runs below)
    val isCanonical = only.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty &&
      shufflePartitions == cores.toString
    val gateFactor = sys.env.getOrElse("SPARK_GRAFT_FLOOR_GATE", "1.3").toDouble
    val floorRetries = sys.env.getOrElse("SPARK_GRAFT_FLOOR_RETRIES", "3").toInt
    val floorRetryMs = (sys.env.getOrElse("SPARK_GRAFT_FLOOR_RETRY_S", "30").toDouble * 1000).toLong
    val best = floorBest(docsDir)
    val bestBoot = floorBestBoot(docsDir)
    val bestPath = floorBestPath(docsDir).getOrElse(docsDir.toString)
    // The gate is BOOT-SCOPED, like the outlier guard: floors moved 183 →
    // ~270 ms disk across the round-14/15 reboot with no code change, so
    // a cross-boot best would deadlock the gate on the slower boot. Same
    // boot → strict gate (this is the round-14 failure mode: committing a
    // record 1.4× over floors this very boot had demonstrated). Different
    // boot (or no baseline) → RE-ANCHOR: probe several spaced rounds,
    // take the elementwise min as this boot's baseline, and commit with
    // gate:"reanchor". A loud re-anchor window self-heals: every later
    // passing run folds min() into FLOOR_BEST, ratcheting the baseline
    // down toward the boot's true floor.
    // The anchor is (boot, probe path): a path mismatch re-anchors exactly
    // like a boot change (round-16 ADVICE — a SPARK_GRAFT_BENCH_TMP run on
    // a faster fs must not fold its floors into the default dir's anchor);
    // a pre-path-aware FLOOR_BEST is treated as anchored at the default
    // docs dir, where every committed one was probed.
    val sameAnchor = curBoot.isDefined && bestBoot == curBoot &&
      bestPath == floorDir.toString
    def floorQuiet(fs: Seq[(String, Double)]): Boolean =
      fs.forall { case (k, v) => best.get(k).forall(b => v <= gateFactor * b) }
    var floors = floorProbes(spark, floorDir)
    var floorAttempts = 1
    var reanchored = false
    if (isCanonical && gateFactor > 0 && curBoot.isEmpty)
      // an unreadable boot_id means floors can never be boot-scoped: the
      // old behavior re-anchored EVERY run (3 × 30 s sleeps) and wrote a
      // FLOOR_BEST whose "unknown" boot the hex-only reader never parses
      // back, so the gate never actually gated (round-16 ADVICE). Declare
      // it off instead — no sleeps, no anchor rewrite, honest record.
      System.err.println("bench: floor gate — boot_id unreadable on this " +
        "host, floors cannot be boot-scoped; gate off for this run")
    if (isCanonical && gateFactor > 0 && curBoot.isDefined) {
      if (best.nonEmpty && sameAnchor) {
        // gate on the elementwise MIN across probe rounds, not the latest
        // round: a single probe carries ±50 % session noise (spark_ms
        // read 123–880 within one day), so judging each round alone
        // fails a quiet host on one transient spike. Persistent weather
        // still fails — the r14 window's disk read ~300+ on every round.
        var acc = floors.toMap
        while (!floorQuiet(acc.toSeq) && floorAttempts <= floorRetries) {
          val loud = acc.collect { case (k, v) if best.get(k).exists(b => v > gateFactor * b) =>
            s"$k ${math.round(v)} vs best ${math.round(best(k))}" }.mkString(", ")
          System.err.println(s"bench: floor gate — host loud ($loud); retry " +
            s"$floorAttempts/$floorRetries in ${floorRetryMs / 1000}s")
          Thread.sleep(floorRetryMs)
          acc = floorProbes(spark, floorDir).map { case (k, v) =>
            k -> math.min(v, acc(k)) }.toMap
          floorAttempts += 1
        }
        floors = floors.map { case (k, _) => k -> acc(k) }
      } else {
        // name the exact re-anchor cause (round-16 ADVICE): a surprise
        // 90 s re-anchor after setting SPARK_GRAFT_BENCH_TMP was
        // indistinguishable from a boot change in the old message
        val cause =
          if (best.isEmpty) "no FLOOR_BEST"
          else if (bestBoot != curBoot) "boot changed"
          else s"probe path changed (anchor $bestPath vs $floorDir)"
        System.err.println("bench: floor gate — no same-boot baseline " +
          s"($cause); re-anchoring from ${floorRetries + 1} probe rounds")
        var acc = floors.toMap
        (1 to floorRetries).foreach { i =>
          Thread.sleep(floorRetryMs)
          val f = floorProbes(spark, floorDir)
          acc = f.map { case (k, v) => k -> math.min(v, acc(k)) }.toMap
          floorAttempts += 1
        }
        floors = floors.map { case (k, _) => k -> acc(k) }
        reanchored = true
      }
    }
    val floorGate =
      if (!isCanonical) "n/a"
      else if (gateFactor <= 0) "off"
      else if (curBoot.isEmpty) "off" // boot_id unreadable (see above)
      else if (reanchored) "reanchor"
      else if (floorQuiet(floors)) "pass"
      else "fail"
    if (floorGate == "fail")
      System.err.println("bench: floor gate FAILED after retries — this " +
        "run's totals carry host weather; BENCH_line.json is NOT updated " +
        "(canonical baseline deferred to the last quiet record)")

    // WARMUP SUITE PASS (round 13, verdict ask 5): one DISCARDED pass of
    // every selected query before any timing. Per-query codegen compile
    // and the engine machinery JIT during the warmup, so the recorded
    // cold series measures a query's own cache build rather than whatever
    // global compilation its suite position happened to absorb — the
    // cross-boot/cross-round stability the canonical record needs. The
    // per-rep-block clearCache below still makes rep 1 a true cold build
    // of the query's OWN caches. Disable with SPARK_GRAFT_BENCH_WARMUP=none
    // (the A/B tool's interleaved passes warm each other; it opts out).
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

    // Executor-resource counters per query (suite pass only; the guard's
    // isolated re-runs never overwrite them). Snapshots happen strictly
    // outside the timed reps, so the measurement protocol is unchanged.
    val tally = new ResourceTally
    spark.sparkContext.addSparkListener(tally)
    val resources = scala.collection.mutable.Map.empty[String, Seq[Long]]
    def measureTallied(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Double] = {
      tally.settle()
      val before = tally.snapshot()
      tally.resetPeak()
      val times = measure(name, fn)
      tally.settle()
      resources(name) = tally.snapshot().zip(before).map { case (a, b) => a - b } :+ tally.peak()
      times
    }

    // Batch first, stream gates last (sorted within each block).
    val (streamQs, batchQs) = selected.partition(q => StreamTail.contains(q._1))
    val firstPass = batchQs.map { case (name, fn) => (name, measureTallied(name, fn)) } ++ {
      if (streamQs.nonEmpty) { System.gc(); Thread.sleep(200) }
      streamQs.map { case (name, fn) => (name, measureTallied(name, fn)) }
    }

    def cold(t: Seq[Double]) = t.head
    def steady(t: Seq[Double]) = { val ok = t.tail.filter(_ >= 0); if (ok.nonEmpty) ok.min else -1.0 }

    // OUTLIER GUARD: re-measure suspect queries in isolation at the end.
    val fnByName = selected.toMap
    val suspects = (if (crossBoot) Seq.empty else firstPass).filter { case (name, t) =>
      val s = steady(t)
      prior.get(name).exists(p => p > 0 && s > 0 &&
        s > guardFactor * p && s - p > 0.25)
    }.map(_._1)
    val remeasured: Map[String, (Seq[Double], Seq[Double])] =
      if (suspects.isEmpty) Map.empty
      else {
        System.err.println(s"bench: outlier guard re-measuring ${suspects.size} " +
          s"quer${if (suspects.size == 1) "y" else "ies"} in isolation: " +
          suspects.mkString(", "))
        System.gc(); Thread.sleep(500)
        suspects.map { name =>
          val second = measure(name, fnByName(name))
          name -> (firstPass.find(_._1 == name).get._2, second)
        }.toMap
      }
    // The BETTER steady wins (a real regression reproduces in isolation);
    // nothing else from the isolated pass is ever substituted — cold and
    // the first-pass rep series stay from the SUITE pass (an isolated
    // re-run's "cold" is warm-JVM and would deflate the cold series), and
    // both series land in the detail record so no measurement is dropped.
    // (name, suiteReps, isolatedRepsIfRemeasured, substituted?)
    val results: Seq[(String, Seq[Double], Option[Seq[Double]], Boolean)] =
      firstPass.map { case (name, t) =>
        remeasured.get(name) match {
          case Some((first, second)) =>
            val sub = steady(second) >= 0 &&
              (steady(first) < 0 || steady(second) < steady(first))
            (name, first, Some(second), sub)
          case None => (name, t, None, false)
        }
      }
    def chosenSteady(r: (String, Seq[Double], Option[Seq[Double]], Boolean)): Double =
      if (r._4) steady(r._3.get) else steady(r._2)

    // -1 sentinel reps are excluded everywhere: a query whose every warm rep
    // failed reports steady = -1 (visibly broken), and failed queries never
    // deflate the totals.
    val steadyTotal = results.map(chosenSteady).filter(_ >= 0).sum
    val coldTotal = results.map(r => cold(r._2)).filter(_ >= 0).sum
    val nFailed = results.count(_._2.exists(_ < 0))
    // n_remeasured = guard ACTIVITY (every isolated re-run, kept or not);
    // n_substituted = how many records actually took the isolated steady.
    val nRemeasured = results.count(_._3.isDefined)
    val nSubstituted = results.count(_._4)
    val bootStr = curBoot.getOrElse("unknown")
    def tenths(x: Double): Double = math.round(x * 10) / 10.0
    // Heap annotation (round-13 verdict ask 6): decade-exponent records
    // were only distinguishable as 8g-vs-24g by filename convention; the
    // record now carries the driver JVM's actual max heap — in BINARY GiB
    // so the value matches the -Xmx launch flag it disambiguates (an
    // -Xmx24g driver must record 24.0, not 25.8 decimal GB; round-14
    // ADVICE).
    val heapGb = tenths(Runtime.getRuntime.maxMemory / (1L << 30).toDouble)
    val notes = "one discarded warmup suite pass before timing (cold = the " +
      "query's own cache build, not suite-position codegen; disable with " +
      "SPARK_GRAFT_BENCH_WARMUP=none); floor = boot-relative host probes " +
      "(cpu chain / 64MB fsync IO / fixed Spark job, ms) for cross-boot " +
      "comparison; steady=min of warm reps (regression gauge), cold=first " +
      "timed run; stream gates run as the suite " +
      s"tail; queries whose steady exceeded ${guardFactor}x the prior " +
      "committed record were re-measured in isolation (better steady kept; " +
      "first_steady + isolated_reps recorded per query); cold always from " +
      "the suite pass; full per-rep series in the detail file; resources " +
      "(MB) cover the whole suite-pass rep block per query; canonical " +
      "BENCH_line.json commits only when the floor gate passes (all " +
      "probes within the gate factor of FLOOR_BEST.json, retried, else " +
      "deferred to the last quiet record)"
    // A name-filtered run measures a PARTIAL suite: never let it clobber
    // the canonical full-suite records — divert the default detail file
    // and skip the BENCH_line.json copy (explicit SPARK_GRAFT_BENCH_OUT
    // still goes exactly where the caller pointed it).
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(p => java.nio.file.Paths.get(p).toAbsolutePath)
      .getOrElse(docsDir.resolve(
        if (only.isDefined) "BENCH_filtered_latest.json" else "BENCH_full_latest.json"))
    // Fields shared by the detail record and the compact line; `cores` is
    // the local thread count, which follows the host unless
    // SPARK_GRAFT_CPUS pins it.
    val header = Seq("metric" -> "total_steady", "value" -> steadyTotal, "unit" -> "sec")
    val runFields = Seq("total_cold" -> coldTotal, "reps" -> reps,
      "n_remeasured" -> nRemeasured, "n_substituted" -> nSubstituted,
      "boot_id" -> bootStr, "uptime_s" -> uptimeSeconds().getOrElse(-1L),
      "cross_boot_vs_prior" -> crossBoot, "heap_gb" -> heapGb, "cores" -> cores,
      "floor" -> VectorMap(floors.map { case (k, v) => k -> tenths(v) } ++
        Seq("gate" -> floorGate) ++
        (if (floorAttempts > 1) Seq("attempts" -> floorAttempts) else Nil) :+
        ("path" -> floorDir.toString): _*),
      "warmup" -> warmupMode, "warmup_s" -> tenths(warmupS), "sf" -> sfDir)
    // Full audit record as a repo file: the stdout line was truncated in
    // the round-3/4 driver records, so the complete cold+steady+per-rep
    // series must be readable without re-running the bench.
    val queries = VectorMap(results.map { case r @ (n, suite, iso, sub) =>
      n -> VectorMap((Seq("cold" -> cold(suite), "steady" -> chosenSteady(r)) ++
        iso.toSeq.flatMap(s => ("isolated_reps" -> s) +:
          (if (sub) Seq("first_steady" -> steady(suite)) else Nil)) ++
        Seq("reps" -> suite) ++
        // Resource counters (MB, whole rep block, suite pass): shuffle
        // read/write, disk/mem spill, scan input, then the max per-task
        // peak execution memory — the cross-fixture scale signals.
        resources.get(n).map(c => "resources" -> VectorMap(
          (ResourceKeys.zip(c) :+ ("peak_task_mem_mb" -> c.last))
            .map { case (k, v) => k -> tenths(v / 1e6) }: _*))): _*)
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
    val steadyMap = VectorMap(results.map(r => r._1 -> chosenSteady(r)): _*)
    val line = Json.write(VectorMap(header ++ Seq("queries" -> steadyMap) ++ runFields :+
      ("detail" -> outFile.toString): _*))
    // The line ALSO lands in a known repo file: three rounds of driver
    // records failed to parse the sbt-logged stdout copy ("[info] "
    // prefix), so a machine-readable copy must exist independent of how
    // the launcher captures stdout. Partial (name-filtered) runs don't
    // write it — their totals would masquerade as the full suite's. Runs
    // with an EXPLICIT output path don't either: those are probes at
    // other scale factors (the sf1 replica runs), and letting one clobber
    // the canonical same-sf record would disarm the outlier guard for the
    // next real run (priorSteady ignores a record whose sf differs).
    // ... and a canonical run whose FLOOR GATE failed doesn't either: its
    // steadies carry host weather, and committing them would both poison
    // the round-over-round trend and re-arm the outlier guard against an
    // inflated baseline (the round-14 lesson). The run still printed and
    // wrote its detail file above, flagged floor_gate:"fail".
    if (isCanonical && floorGate != "fail") {
      try {
        java.nio.file.Files.write(docsDir.resolve("BENCH_line.json"),
          (line + "\n").getBytes("UTF-8"))
        // fold this quiet run's probes into the best-committed floor
        // (same boot AND same probe path), or replace it wholesale on a
        // re-anchor — FLOOR_BEST is (boot, path)-scoped, so neither a
        // stale boot's minima nor a faster tmp filesystem's can linger.
        // With boot_id unreadable the gate was declared off above and the
        // anchor is left alone: an "unknown"-boot anchor could never be
        // parsed back, so writing it would only destroy a valid one.
        if (curBoot.isDefined) {
          val newBest = floors.map { case (k, v) =>
            k -> (if (sameAnchor) math.min(v, best.getOrElse(k, Double.MaxValue)) else v) }
          java.nio.file.Files.write(docsDir.resolve("FLOOR_BEST.json"),
            (Json.write(VectorMap(newBest.map { case (k, v) => k -> tenths(v) } ++
              Seq("boot_id" -> bootStr, "path" -> floorDir.toString): _*)) + "\n").getBytes("UTF-8"))
        }
      } catch { case scala.util.control.NonFatal(e) =>
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
      "n" -> results.size, "n_failed" -> nFailed, "n_remeasured" -> nRemeasured,
      "sf" -> sfDir, "cores" -> cores): _*))
    println(totals)
    System.err.println(totals)
    spark.stop()
  }
}
