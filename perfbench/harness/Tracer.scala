package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into the engine. `parent` is the id of
  * the enclosing span (-1 at the top); `op` names the operation the span
  * belongs to, as tagged on the Spark jobs it launches. */
final case class Span(id: Int, name: String, parent: Int, op: String, startNs: Long, endNs: Long)

/**
 * Harness-side tracing through Spark's public listener APIs only:
 * `SparkListener` (jobs, stages, tasks, shuffle, spill, bytes written),
 * `QueryExecutionListener` (planning-phase times, file-scan counts) and
 * `StreamingQueryListener` (micro-batch phases and state operators). Jobs and
 * SQL executions are attributed to the harness operation through a
 * `perfbench-op:<op>` job tag, which Spark copies onto every job and
 * execution the calling thread submits.
 *
 * Events arrive asynchronously, so the harness detaches the listeners only
 * after [[quiesce]], and aggregates only after the session has stopped, which
 * drains the listener bus.
 */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  private var attached = false

  // ---- spans ----------------------------------------------------------
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String)]  // (span id, op)
  private var nextId = 0

  def span[T](name: String, op: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    if (parent < 0) fallbackOp = op
    open.push((id, op))
    val tag = TagPrefix + op
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      if (!open.exists(_._2 == op)) sc.removeJobTag(tag)
      spans += Span(id, name, parent, op, t0, t1)
    }
  }

  /** A span timed on another thread (a streaming sink), attached as a child
    * of the span open on this thread. */
  def addChild(name: String, op: String, t0: Long, t1: Long): Unit = if (t1 > t0) {
    spans += Span(nextId, name, open.headOption.map(_._1).getOrElse(-1), op, t0, t1)
    nextId += 1
  }

  // ---- raw events, aggregated after the bus drains -----------------------
  final class StageAgg {
    var tasks = 0; var taskNs = 0L; var maxTaskNs = 0L
    var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L
  }
  final case class QeRec(id: Long, planS: Double, files: Long, parts: Long)

  // Jobs and SQL executions submitted under a span carry its op as a job
  // tag; those the engine submits from its own threads (the streaming
  // micro-batch thread) go to the op of the open top-level span.
  @volatile private var fallbackOp: String = null
  private val openExecs = mutable.SortedSet.empty[Long]
  private val jobOp = mutable.Map.empty[Int, String]          // jobId -> op
  private val stageOp = mutable.Map.empty[Int, String]        // stageId -> op
  private val execOp = mutable.Map.empty[Long, String]        // sql execution id -> op
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def opOf(tags: Iterable[String]): Option[String] =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix)).maxByOption(_.length)
      .orElse(Option(fallbackOp))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      touch()
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      opOf(tags).foreach { op =>
        jobOp(e.jobId) = op
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          touch()
          opOf(s.jobTags).foreach(execOp(s.executionId) = _)
          openExecs += s.executionId
        case s: SparkListenerSQLExecutionEnd => openExecs -= s.executionId
        case _ =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      touch()
      if (stageOp.contains(e.stageId) && e.taskMetrics != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        val m = e.taskMetrics
        val ns = m.executorRunTime * 1000000L
        a.tasks += 1; a.taskNs += ns; a.maxTaskNs = math.max(a.maxTaskNs, ns)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = touch()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      touch()
      val ph = qe.tracker.phases
      val planNs = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
      val plan = qe.executedPlan match {
        case c: CommandResultExec => c.commandPhysicalPlan
        case p => p
      }
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
      // The session's execution-listener bus shares the listener queue with
      // `sparkListener` and runs first (see `attach`), so the execution that
      // just ended is the newest one still open.
      val rec = Tracer.this.synchronized(
        QeRec(openExecs.lastOption.getOrElse(-1L), planNs / 1e9, metric("numFiles"),
          metric("numPartitions")))
      Tracer.this.synchronized { qes += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      Tracer.this.synchronized { progress += e.progress }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The execution-listener bus joins the listener queue on the first
    * `register`; registering before adding `sparkListener` keeps it ahead
    * of `sparkListener` in the queue on every attach. */
  def attach(): Unit = if (!attached) {
    spark.listenerManager.register(qeListener)
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Wait until no listener event has arrived for 100 ms (at most 3 s), so
    * the events of the operations just traced are not lost on detach. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (System.nanoTime() - lastEventNs < 100000000L && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def detach(): Unit = if (attached) {
    quiesce()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  // ---- aggregates (call after the session stopped) ------------------------

  /** Totals over the traced operations whose op id satisfies `keep`. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, taskS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, maxTaskShare: Double,
      planS: Double, files: Long, parts: Long, queries: Int)

  def totals(keep: String => Boolean): Totals = synchronized {
    val st = stages.iterator.filter { case (sid, _) => keep(stageOp(sid)) }.map(_._2).toSeq
    val q = qes.filter(r => execOp.get(r.id).exists(keep))
    // The one-task-stage detector: the largest share of a multi-task stage's
    // task time that a single task carried.
    val share = st.filter(a => a.tasks > 1 && a.taskNs > 0)
      .map(a => a.maxTaskNs.toDouble / a.taskNs).maxOption.getOrElse(0.0)
    Totals(jobOp.count { case (_, o) => keep(o) }, st.size, st.map(_.tasks).sum,
      st.map(_.taskNs).sum / 1e9, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      share, q.map(_.planS).sum, q.map(_.files).sum,
      q.map(_.parts).sum, q.size)
  }

  /** Per-op bytes written, for the write-amplification ratio. */
  def bytesWrittenByOp: Map[String, Long] = synchronized {
    stages.toSeq.groupBy { case (sid, _) => stageOp(sid) }
      .map { case (op, xs) => op -> xs.map(_._2.bytesWritten).sum }
  }

  /** The number of QueryExecutions that could not be tied to an op. */
  def unattributedQueries: Int = synchronized(qes.count(r => !execOp.contains(r.id)))
}

object Tracer {
  val TagPrefix = "perfbench-op:"
}
