package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. `op` is the identifier every span of one op
  * execution shares (`p<pass>:<op name>`); `parent` is the span that
  * caused it (0 for an op's root span). Times are microseconds on the
  * wall clock, so driver spans and listener job events line up. */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    startUs: Long, endUs: Long, site: String = "", sqlExec: String = "") {
  def us: Long = endUs - startUs
}

/** Counters of one Spark job, attributed to a layer when the job starts
  * (`site`: the program frame that decided it, if any; `sqlExec`: the
  * SQL execution it ran for). */
final class JobRec(val id: Int, val op: String, val parent: Long,
    val phase: String, val layer: String, val site: String, val sqlExec: String,
    val startMs: Long, val spanId: Long) {
  @volatile var endMs: Long = startMs
  def span: Span = Span(spanId, parent, op, "job." + layer, startMs * 1000, endMs * 1000,
    site, sqlExec)
  var stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, bytesOut = 0L
}

object Trace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  val SqlExecKey = "spark.sql.execution.id"

  /** Self time of every span: its duration minus the part of that
    * interval its children cover (children clipped to the parent, and
    * overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (c.startUs max s.startUs, c.endUs min s.endUs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (0L, -1L)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB >= curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB >= curA) covered += curB - curA
      s.id -> (s.us - covered)
    }.toMap
  }

  /** The layer a job belongs to, and the program frame that decided it.
    * The phase property the benchmark set before the call decides,
    * refined by the job's call site: a `graft.Memo` frame anywhere marks
    * a memo build, and the first `graft.*` frame names the fixture
    * loader or the ETL stage (the quality gate, or else the write). */
  def layerOf(callSite: String, phase: String): (String, String) = {
    val frames = callSite.linesIterator.map(_.trim).toSeq
    val first = frames.find(_.startsWith("graft.")).getOrElse("")
    frames.find(_.startsWith("graft.Memo$")) match {
      case Some(memo) => ("memo", memo)
      case None =>
        if (first.startsWith("graft.Tables$")) ("tables", first)
        else if (first.startsWith("graft.etl.Quality$")) ("etl.gate", first)
        else if (first.startsWith("graft.etl.")) ("etl.write", first)
        else (if (phase.nonEmpty) phase else "other",
          if (first.nonEmpty) first else frames.headOption.getOrElse(""))
    }
  }
}

/** Spans and counts at each layer boundary, recorded from outside the
  * program: driver spans around the calls into each layer, a
  * SparkListener for jobs/stages/tasks. Everything stays in memory until
  * the client writes [[allSpans]] at exit. Disabled, every hook is a
  * plain pass-through and no listener is registered. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Trace._
  // lazy: a disabled tracer never touches the session
  private lazy val sc = spark.sparkContext
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val finished = ArrayBuffer.empty[JobRec]
  private val counts = new ConcurrentHashMap[(String, String), Double]()
  private var enabled = false

  def nowUs: Long = (System.nanoTime() + offsetNs) / 1000

  def on: Boolean = enabled

  def enable(b: Boolean): Unit = if (b != enabled) {
    if (b) sc.addSparkListener(this)
    else { drain(); sc.removeSparkListener(this) }
    enabled = b
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.sql.PerfbenchBridge.drainListenerBus(sc)

  /** Run `body` as a span of `layer` under op `op`; jobs it submits
    * carry the span as their parent and `layer` as their phase. */
  def span[T](op: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(sc.getLocalProperty(SpanKey)).map(_.toLong).getOrElse(0L)
      val prevPhase = sc.getLocalProperty(PhaseKey)
      val id = ids.incrementAndGet()
      sc.setLocalProperty(OpKey, op)
      sc.setLocalProperty(SpanKey, id.toString)
      if (layer != "op") sc.setLocalProperty(PhaseKey, layer)
      val t0 = nowUs
      try body
      finally {
        val t1 = nowUs
        spans.synchronized(spans += Span(id, parent, op, layer, t0, t1))
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
        sc.setLocalProperty(PhaseKey, prevPhase)
        if (parent == 0L) sc.setLocalProperty(OpKey, null)
      }
    }

  /** Record a closed interval measured elsewhere (Catalyst phase times,
    * streaming progress) as a child of the innermost span of `op` that
    * contains its start. */
  def record(op: String, layer: String, startUs: Long, endUs: Long): Unit =
    if (enabled) spans.synchronized {
      val parent = spans.filter(s => s.op == op && s.startUs <= startUs && s.endUs >= startUs)
        .sortBy(s => -s.startUs).headOption.map(_.id).getOrElse(0L)
      spans += Span(ids.incrementAndGet(), parent, op, layer, startUs, endUs)
    }

  /** Add `v` to counter `key` of op `op` (a count made at a layer
    * boundary that has no span, e.g. streaming progress). */
  def count(op: String, key: String, v: Double): Unit =
    if (enabled) counts.merge((op, key), v, (a: Double, b: Double) => a + b)

  def countsOf(ops: Set[String]): Map[String, Double] =
    counts.asScala.toSeq.collect { case ((op, k), v) if ops(op) => k -> v }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Call site of every SQL execution: jobs that AQE or a broadcast
    * submits from a helper thread show no program frame of their own, but
    * their execution's call site does. */
  private val sqlSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new java.util.Properties)
    val phase = Option(p.getProperty(PhaseKey)).getOrElse("")
    val sqlExec = Option(p.getProperty(SqlExecKey)).getOrElse("")
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = if (own.contains("\ngraft.") || sqlExec.isEmpty) own
      else Option(sqlSites.get(sqlExec)).getOrElse(own)
    val (layer, frame) = layerOf(site, phase)
    val rec = new JobRec(e.jobId, Option(p.getProperty(OpKey)).getOrElse(""),
      Option(p.getProperty(SpanKey)).map(_.toLong).getOrElse(0L), phase,
      layer, frame, sqlExec, e.time,
      ids.incrementAndGet())
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (e.reason != Success) r.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.bytesOut += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { r =>
      r.endMs = e.time
      finished.synchronized(finished += r)
    }

  /** Driver spans and job spans of the given op executions. */
  def spansOf(ops: Set[String]): Seq[Span] =
    spans.synchronized(spans.filter(s => ops(s.op)).toSeq) ++ jobsOf(ops).map(_.span)

  def jobsOf(ops: Set[String]): Seq[JobRec] =
    finished.synchronized(finished.filter(j => ops(j.op)).toSeq)

  def allSpans: Seq[Span] =
    spans.synchronized(spans.toSeq) ++ finished.synchronized(finished.map(_.span).toSeq)
}
