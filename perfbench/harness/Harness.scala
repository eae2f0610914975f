package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry}
import graft.api.PipelineTasks
import graft.engine.QueryEngine
import graft.model.PipelineRun
import graft.sources.Tables
import graft.streaming.LedgerStream

/**
 * Load generator for the benchmark: one client thread, closed loop, against
 * `GraftSession.local(cores)`. It times only calls into the engine's public
 * functions, writes every measurement and the outputs to check into the work
 * directory, and leaves the statistics and the correctness checks to run.py.
 *
 * Phases: the session is built once; the workload's set-up runs `SetupReps`
 * times (the last one is kept); round 0 is the cold round; rounds 1.. are
 * timed until `seconds` have passed. With tracing on, odd timed rounds run
 * without listeners and even ones with them, so one process gives both the
 * per-layer numbers and the tracing overhead.
 */
object Harness {
  val SetupReps = 3

  final case class Args(workload: String, fixture: String, work: String, cores: Int,
      seconds: Double, trace: Boolean)

  /** One timed round: its number, wall and process CPU seconds. */
  final case class Round(r: Int, seconds: Double, cpuS: Double, traced: Boolean)

  /** One timed call. `phase` is setup, cold, timed, check or probe. */
  final case class Op(phase: String, cls: String, name: String, seconds: Double, ok: Boolean,
      traced: Boolean)

  final class Rec {
    val ops = mutable.ArrayBuffer.empty[Op]
    val rounds = mutable.ArrayBuffer.empty[Round]
    val setupReps = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val out = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var phase = "setup"
    def traced: Seq[Round] = rounds.filter(_.traced).toSeq
  }

  /** A workload: its set-up, one round of its operations, the outputs the
    * checks need, and its own per-layer metrics. `tr` is set on traced
    * rounds only. */
  trait Workload {
    def setup(rep: Int): Unit
    def round(r: Int, tr: Option[Tracer]): Unit
    def check(): Unit
    def layer(tracer: Tracer): Unit
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(kv("workload"), kv("fixture"), kv("work"), kv("cores").toInt,
      kv("seconds").toDouble, kv("trace") == "1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(a.cores)
    val rec = new Rec
    rec.out("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val w: Workload = a.workload match {
      case "ledger_ops" => new LedgerOps(spark, a, rec)
      case "curation_batch" => new CurationBatch(spark, a, rec)
      case "stream_ingest" => new StreamIngest(spark, a, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    for (i <- 0 until SetupReps) rec.setupReps += seconds(w.setup(i))
    rec.phase = "cold"
    val cpu0 = cpuNs()
    rec.out("cold_s") = seconds(w.round(0, None))
    rec.out("cold_cpu_s") = (cpuNs() - cpu0) / 1e9
    rec.phase = "timed"
    val t0 = System.nanoTime()
    var r = 1
    var gcTracedMs = 0L
    // A traced run goes on until it has both an untraced and a traced round.
    while ((System.nanoTime() - t0) / 1e9 < a.seconds ||
      (tracer.nonEmpty && rec.traced.isEmpty)) {
      val traced = tracer.filter(_ => r % 2 == 0)
      if (traced.nonEmpty) tracer.foreach(_.attach()) else tracer.foreach(_.detach())
      val (gc, cpu) = (gcMs(), cpuNs())
      val s = seconds(w.round(r, traced))
      rec.rounds += Round(r, s, (cpuNs() - cpu) / 1e9, traced.nonEmpty)
      if (traced.nonEmpty) gcTracedMs += gcMs() - gc
      r += 1
    }
    tracer.foreach(_.detach())
    rec.phase = "check"
    w.check()
    rec.out("peak_rss_mb") = vmHwmMb()
    rec.out("host") = Map(
      "cores" -> a.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "boot_id" -> new String(Files.readAllBytes(Paths.get("/proc/sys/kernel/random/boot_id")),
        StandardCharsets.UTF_8).trim,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    spark.stop()
    tracer.foreach { t =>
      w.layer(t)
      commonLayer(rec, t, a.cores)
      rec.layer("exec.gc_s") = gcTracedMs / 1e3 / rec.traced.size
      rec.layer("trace.spans") = t.spans.size.toDouble
      rec.layer("trace.unattributed_queries") = t.unattributedQueries.toDouble
      writeSpans(t, s"${a.work}/spans.json")
    }
    Files.writeString(Paths.get(s"${a.work}/raw.json"), Json(Map(
      "out" -> rec.out, "setup_reps_s" -> rec.setupReps, "errors" -> rec.errors,
      "rounds" -> rec.rounds.map(x => Seq(x.r, x.seconds, x.cpuS, x.traced)),
      "ops" -> rec.ops.map(o => Seq(o.phase, o.cls, o.name, o.seconds, o.ok, o.traced)),
      "layer" -> rec.layer)))
  }

  /** Engine and execution counters of the traced rounds: per op, per
    * round, and utilization over the traced wall. */
  def commonLayer(rec: Rec, t: Tracer, cores: Int): Unit = {
    val all = t.totals(_ => true)
    val nOps = math.max(1, rec.ops.count(o => o.phase == "timed" && o.traced)).toDouble
    val n = rec.traced.size.toDouble
    val wall = rec.traced.map(_.seconds).sum
    rec.layer("engine.plan_s_per_op") = all.planS / nOps
    rec.layer("engine.jobs_per_op") = all.jobs / nOps
    rec.layer("engine.stages_per_op") = all.stages / nOps
    rec.layer("engine.tasks_per_op") = all.tasks / nOps
    rec.layer("engine.task_s_per_op") = all.taskS / nOps
    rec.layer("plans.plan_s") = all.planS / math.max(1, all.queries)
    rec.layer("exec.jobs") = all.jobs / n
    rec.layer("exec.stages") = all.stages / n
    rec.layer("exec.tasks") = all.tasks / n
    rec.layer("exec.task_s") = all.taskS / n
    rec.layer("exec.utilization") = all.taskS / (wall * cores)
    rec.layer("exec.shuffle_write_mb") = all.shuffleWriteBytes / 1048576.0 / n
    rec.layer("exec.spill_mb") = all.spillBytes / 1048576.0 / n
    rec.layer("exec.max_task_share") = all.maxTaskShare
    rec.layer("exec.cold_minus_steady_s") = rec.out("cold_s").asInstanceOf[Double] -
      median(rec.rounds.map(_.seconds))
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Time one call into the engine; a thrown error is recorded, not raised. */
  def op[T](rec: Rec, tr: Option[Tracer], cls: String, name: String, opId: String)
      (body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Some(tr.fold(body)(_.span(name, opId)(body)))
    catch {
      case e: Exception =>
        rec.errors += s"${rec.phase} $name: ${e.getClass.getName}: ${e.getMessage}".take(400)
        None
    }
    rec.ops += Op(rec.phase, cls, name, (System.nanoTime() - t0) / 1e9, res.isDefined, tr.isDefined)
    res
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** CPU time of the whole process: task threads, GC, JIT and listeners. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def iso(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other
  }

  /**
   * The known-defect probe: every `PipelineTasks` read verb once against the
   * `pipeline_runs` fixture view (whose window columns are timestamp_ntz),
   * with the fixed parameters of FIXTURES.md. Failures are recorded as they
   * come; the checks count them.
   */
  def probeFixtureView(spark: SparkSession, a: Args, rec: Rec): Unit = {
    val tasks = new PipelineTasks(new QueryEngine(spark), () => Tables.pipelineRuns(spark, a.fixture))
    val calls: Seq[(String, () => Any)] = Seq(
      "countRecordsByPipelineStatus" -> (() => tasks.countRecordsByPipelineStatus("completed")),
      "getOldestRecordByStatus" -> (() => tasks.getOldestRecordByStatus("pending")),
      "getLatestRecordByStatus" -> (() => tasks.getLatestRecordByStatus("pending")),
      "getDiscontinuousQueryWindows" -> (() =>
        tasks.getDiscontinuousQueryWindows("click", "idx_0", "2024-01-15")),
      "findOverlappingQueryWindows" -> (() =>
        tasks.findOverlappingQueryWindows("click", "idx_0", "2024-01-15")),
      "findOverlappingRecordsForInput" -> (() => tasks.findOverlappingRecordsForInput(
        "click", "idx_0", "2024-01-15 00:00:00", "2024-01-16 00:00:00")))
    rec.phase = "probe"
    calls.foreach { case (n, f) => op(rec, None, "probe", n, n)(f()) }
  }

  private def writeSpans(t: Tracer, path: String): Unit =
    Files.writeString(Paths.get(path), Json(t.spans.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))

  /** Minimal JSON writer for the maps, sequences and scalars above. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))
}

/**
 * `ledger_ops`: one orchestrator running scheduling ticks against a DDL'd,
 * day-partitioned catalog ledger. A tick is the six `PipelineTasks` read
 * verbs plus a scalar `MAX`, then an INSERT of a new pending run and two
 * UPDATEs moving it to in_progress and completed, all through
 * `QueryEngine`. Read results of the seeded `check` ticks are kept for the
 * DuckDB replay.
 */
final class LedgerOps(spark: SparkSession, a: Harness.Args, rec: Harness.Rec)
    extends Harness.Workload {
  import Harness._

  private val engine = new QueryEngine(spark)
  private var table = ""
  private val tasks = new PipelineTasks(engine, () => spark.table(table))
  private val ticks = readJson(s"${a.fixture}/ticks.json")
  private val reads = mutable.ArrayBuffer.empty[Any]
  private val updates = mutable.ArrayBuffer.empty[String]
  private var ticksDone = 0
  private val Cols = "record_id, pipeline_name, index_name, query_window_start_ts, " +
    "query_window_end_ts, query_window_start_day, query_window_end_day, pipeline_status, " +
    "records_count"

  def setup(rep: Int): Unit = {
    table = s"ledger_$rep"
    op(rec, None, "setup", "create_table", "setup")(tasks.createTableIfNotExists(table))
    Tables.pipelineRuns(spark, a.fixture).createOrReplaceTempView("fixture_runs")
    op(rec, None, "setup", "load", "setup")(engine.executeDmlQuery(
      s"INSERT INTO $table ($Cols) SELECT $Cols FROM fixture_runs"))
  }

  def round(r: Int, tr: Option[Tracer]): Unit = {
    val t = ticks.get(r)
    val (p, i, st) = (t.get("pipeline").asText, t.get("index").asText, t.get("status").asText)
    val start = Instant.ofEpochSecond(0, t.get("start_us").asLong * 1000)
    val end = Instant.ofEpochSecond(0, t.get("end_us").asLong * 1000)
    val day = LocalDate.of(2024, 1, 1).plusDays(t.get("day").asLong).toString
    val id = t.get("record_id").asLong
    def wall(x: Instant) = x.atOffset(ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    def read[T](verb: String)(body: => T) = op(rec, tr, "read", verb, s"t$r.$verb")(body)
    def write(verb: String)(body: => Long) = op(rec, tr, "write", verb, s"t$r.$verb")(body)
    def body(): Unit = {
      val got = Seq(
        read("oldest")(tasks.getOldestRecordByStatus("pending").value.map(_("record_id"))),
        read("overlap_input")(tasks.findOverlappingRecordsForInput(p, i, wall(start), wall(end))
          .value.map(_("record_id"))),
        read("continuity")(tasks.getDiscontinuousQueryWindows(p, i, day).value match {
          case (ok, gaps) => Seq(ok, gaps.map(g => Seq(g("missing_query_window_start_ts"),
            g("missing_query_window_end_ts"))))
        }),
        read("overlap_windows")(tasks.findOverlappingQueryWindows(p, i, day).value.map(m =>
          Seq("source_window_start_ts", "source_window_end_ts", "overlaps_with_start_ts",
            "overlaps_with_end_ts").map(m))),
        read("count")(tasks.countRecordsByPipelineStatus(st).value),
        read("latest")(tasks.getLatestRecordByStatus(st).value.map(_("record_id"))),
        read("scalar")(engine.executeScalarQuery(
          s"SELECT MAX(query_window_end_ts) FROM $table WHERE pipeline_name = :p",
          Map("p" -> p)).data.map(iso)))
      if (t.get("check").asBoolean) reads += Seq(r, got)
      val startDay = start.atOffset(ZoneOffset.UTC).toLocalDate
      val endDay = end.atOffset(ZoneOffset.UTC).toLocalDate
      write("insert")(engine.executeDmlQuery(
        s"INSERT INTO $table ($Cols) VALUES (:id, :p, :i, :s, :e, :sd, :ed, 'pending', :n)",
        Map("id" -> id, "p" -> p, "i" -> i, "s" -> start, "e" -> end, "sd" -> startDay,
          "ed" -> endDay, "n" -> t.get("records_count").asDouble)).data)
      for (status <- Seq("in_progress", "completed")) write("update")(engine.executeDmlQuery(
        s"UPDATE $table SET pipeline_status = '$status' WHERE record_id = :id",
        Map("id" -> id)).data).foreach(n => updates += s"$r:$n")
      ticksDone = r + 1
    }
    tr.fold(body())(_.span("tick", s"t$r")(body()))
  }

  private def tableFiles(): Seq[java.io.File] = {
    val loc = new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table)).location.toString)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) { if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
                           else f.listFiles().toSeq.flatMap(walk) }
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(loc))
  }

  def check(): Unit = {
    rec.out("ticks_done") = ticksDone
    rec.out("reads") = reads
    rec.out("updates_affected") = updates
    spark.table(table).coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/ledger_final")
    val files = tableFiles()
    rec.out("ledger_files_end") = files.size
    rec.out("ledger_bytes_end") = files.map(_.length).sum
    rec.out("ledger_rows_end") = spark.table(table).count()
    probeFixtureView(spark, a, rec)
  }

  def layer(t: Tracer): Unit = {
    val timed = rec.ops.filter(o => o.phase == "timed" && o.traced)
    def p50(name: String) = median(timed.filter(_.name == name).map(_.seconds))
    Seq("oldest", "latest", "count", "overlap_input", "continuity", "overlap_windows")
      .foreach(v => rec.layer(s"api.${v}_p50_s") = p50(v))
    rec.layer("engine.scalar_p50_s") = p50("scalar")
    rec.layer("engine.insert_p50_s") = p50("insert")
    rec.layer("engine.update_p50_s") = p50("update")
    val readVerbs = Set("oldest", "latest", "count", "overlap_input", "continuity",
      "overlap_windows", "scalar")
    val rd = t.totals(o => readVerbs.contains(o.split('.').last))
    val nReads = math.max(1, timed.count(_.cls == "read"))
    rec.layer("sources.files_scanned_per_read") = rd.files.toDouble / nReads
    rec.layer("sources.partitions_scanned_per_read") = rd.parts.toDouble / nReads
    rec.layer("sources.ledger_files_end") = rec.out("ledger_files_end").asInstanceOf[Int].toDouble
    rec.layer("sources.ledger_bytes_per_row") =
      rec.out("ledger_bytes_end").asInstanceOf[Long].toDouble /
        rec.out("ledger_rows_end").asInstanceOf[Long]
    val upd = t.bytesWrittenByOp.filter(_._1.endsWith(".update"))
    val nUpd = timed.count(o => o.name == "update" && o.ok)
    rec.layer("sources.update_bytes_rewritten_per_row_changed") =
      upd.values.sum.toDouble / math.max(1, nUpd)
  }
}

/**
 * `curation_batch`: the curation job set of `SparkEntry.queries`, each query
 * materialised through a `noop` write, as `graft.Bench` does. Round 0 is the
 * cold pass; later rounds are steady passes.
 */
final class CurationBatch(spark: SparkSession, a: Harness.Args, rec: Harness.Rec)
    extends Harness.Workload {
  import Harness._

  // One query per kernel family, so that a cold pass and a steady pass fit
  // one run; README.md lists the families of the full set left out.
  private val families = Seq(
    "x81_nb_quality" -> "nb", "x79_bigram_lm" -> "bigram", "x72_bpe_numericalize" -> "bpe",
    "x4_embed_neardup" -> "similarity")
  private var fns = Seq.empty[(String, (SparkSession, String) => DataFrame)]
  // per round: (round, query, build seconds, total seconds)
  private val parts = mutable.ArrayBuffer.empty[(Int, String, Double, Double)]

  def setup(rep: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    fns = families.map { case (n, _) => n -> SparkEntry.queries(n) }
    Seq("documents", "embeddings").foreach(Tables.read(spark, a.fixture, _).schema)
  }

  /** Steady passes materialise each query through a `noop` write; the cold
    * pass (round 0) writes each result to parquet, as a fresh job writes its
    * output, and those files are what the checks compare with the oracle. */
  def round(r: Int, tr: Option[Tracer]): Unit = {
    def body(): Unit = fns.foreach { case (name, fn) =>
      val id = s"p$r.$name"
      var buildS = 0.0
      op(rec, tr, "query", name, id) {
        val t0 = System.nanoTime()
        val df = tr.fold(fn(spark, a.fixture))(_.span("build", id)(fn(spark, a.fixture)))
        buildS = (System.nanoTime() - t0) / 1e9
        def exec(): Unit =
          if (r == 0) df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/$name")
          else df.write.format("noop").mode("overwrite").save()
        tr.fold(exec())(_.span("execute", id)(exec()))
      }.foreach(_ => parts += ((r, name, buildS, rec.ops.last.seconds)))
    }
    tr.fold(body())(_.span("pass", s"p$r")(body()))
  }

  def check(): Unit =
    Files.writeString(Paths.get(s"${a.work}/out/oracle_sql.json"),
      Json(families.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap))

  def layer(t: Tracer): Unit = {
    val traced = rec.traced.map(_.r).toSet
    val byRound = parts.filter(p => traced.contains(p._1)).groupBy(_._1).values.toSeq
    val fam = families.toMap
    families.map(_._2).distinct.foreach { f =>
      rec.layer(s"operators.${f}_s") =
        median(byRound.map(_.filter(p => fam(p._2) == f).map(_._4).sum))
    }
    rec.layer("operators.build_s") = median(byRound.map(_.map(_._3).sum))
  }
}

/**
 * `stream_ingest`: a start-ordered replay of ledger records, micro-batches of
 * new records plus replayed duplicates, through
 * `LedgerStream.dedupedIngest` into `foreachBatch(LedgerStream.appendBatch)`.
 * The client waits on `processAllAvailable` after each `addData`.
 */
final class StreamIngest(spark: SparkSession, a: Harness.Args, rec: Harness.Rec)
    extends Harness.Workload {
  import Harness._
  private val BatchesPerRound = 4
  import spark.implicits._

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  // The replay plan is client input: it is loaded before set-up and not timed.
  private val batches: IndexedSeq[Array[PipelineRun]] = {
    val day = (us: Long) => java.sql.Date.valueOf(
      Instant.ofEpochSecond(0, us * 1000).atOffset(ZoneOffset.UTC).toLocalDate)
    val ts = (us: Long) => java.sql.Timestamp.from(Instant.ofEpochSecond(0, us * 1000))
    spark.read.parquet(s"${a.fixture}/stream.parquet").collect().toIndexedSeq
      .groupBy(_.getAs[Long]("batch")).toIndexedSeq.sortBy(_._1).map(_._2.map { r =>
        val (s, e) = (r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))
        PipelineRun(r.getAs[Long]("record_id"), r.getAs[String]("pipeline_name"),
          r.getAs[String]("index_name"), ts(s), ts(e), day(s), day(e),
          r.getAs[String]("pipeline_status"), Some(r.getAs[Double]("records_count")))
      }.toArray)
  }
  // replayed records per batch: ids already fed by an earlier batch
  private val replays: IndexedSeq[Int] = {
    val seen = mutable.HashSet.empty[Long]
    batches.map { b => val n = b.count(x => seen(x.record_id)); seen ++= b.map(_.record_id); n }
  }
  private var mem: MemoryStream[PipelineRun] = _
  private var query: StreamingQuery = _
  private var sink = ""
  @volatile private var lastAppend: (Long, Long) = (0L, 0L)
  private val appendS = mutable.ArrayBuffer.empty[(Int, Double)]
  private var fed = 0

  def setup(rep: Int): Unit = {
    if (query != null) query.stop()
    sink = s"${a.work}/stream/sink_$rep"
    mem = MemoryStream[PipelineRun]
    val append = LedgerStream.appendBatch(sink) _
    val timedAppend: (DataFrame, Long) => Unit = { (df, id) =>
      val t0 = System.nanoTime()
      append(df, id)
      lastAppend = (t0, System.nanoTime())
    }
    op(rec, None, "setup", "start", "setup") {
      query = LedgerStream.dedupedIngest(mem.toDF()).writeStream
        .option("checkpointLocation", s"${a.work}/stream/ckpt_$rep")
        .foreachBatch(timedAppend).start()
    }
  }

  /** A round is `BatchesPerRound` micro-batches, so that its CPU time is
    * not one batch's share of background JIT work. */
  def round(r: Int, tr: Option[Tracer]): Unit = {
    def body(): Unit = for (b <- r * BatchesPerRound until (r + 1) * BatchesPerRound) {
      val id = s"b$r.$b"
      lastAppend = (0L, 0L)
      op(rec, tr, "batch", "batch", id) {
        mem.addData(batches(b).toSeq)
        query.processAllAvailable()
        val (t0, t1) = lastAppend
        tr.foreach(_.addChild("append", id, t0, t1))
      }
      val (t0, t1) = lastAppend
      appendS += ((r, (t1 - t0) / 1e9))
      fed = b + 1
    }
    tr.fold(body())(_.span("round", s"b$r")(body()))
  }

  def check(): Unit = {
    query.stop()
    rec.out("batches_fed") = fed
    rec.out("round_records") = batches.take(fed).grouped(BatchesPerRound).map(_.map(_.length).sum)
      .toSeq
    rec.out("sink") = sink
    val root = Paths.get(sink)
    val files = Files.walk(root).iterator().asScala.count(p => p.toString.endsWith(".parquet") &&
      !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
    rec.out("sink_files_end") = files
  }

  def layer(t: Tracer): Unit = {
    val traced = rec.traced.map(_.r).toSet
    rec.layer("sources.append_p50_s") = median(appendS.filter(x => traced(x._1)).map(_._2))
    rec.layer("sources.files_per_batch") =
      rec.out("sink_files_end").asInstanceOf[Int].toDouble / math.max(1, fed)
    val prog = t.progress.toSeq
    def dur(k: String) = median(prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    Seq("addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
      "queryPlanning" -> "query_planning", "latestOffset" -> "latest_offset")
      .foreach { case (k, n) => rec.layer(s"streaming.${n}_ms_p50") = dur(k) }
    val states = prog.flatMap(_.stateOperators.headOption)
    val last = states.lastOption
    rec.layer("state.commit_ms_p50") = median(states.map(_.commitTimeMs.toDouble))
    rec.layer("state.instances") = last.map(_.numStateStoreInstances.toDouble).getOrElse(0)
    rec.layer("state.rows_total_end") = last.map(_.numRowsTotal.toDouble).getOrElse(0)
    rec.layer("state.memory_bytes_end") = last.map(_.memoryUsedBytes.toDouble).getOrElse(0)
    val dropped = states.map(s => s.numRowsDroppedByWatermark +
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
    val replaysFed = traced.toSeq
      .flatMap(r => r * BatchesPerRound until (r + 1) * BatchesPerRound).map(replays).sum
    rec.layer("state.dropped_ratio") = dropped.toDouble / math.max(1, replaysFed)
  }
}
