package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all outside the library: a span
  * recorder around the benchmark's own calls into each module, and a
  * SparkListener, QueryExecutionListener and StreamingQueryListener that
  * attribute Spark jobs, planning, codegen, shuffle and GC to those
  * spans. Spans and records stay in memory until [[dump]].
  *
  * Attribution: before each call the benchmark thread sets the job
  * group to the request's id and the job description to the span's
  * sequence number, so every job the call submits from that thread
  * names its span. Streaming micro-batches run under their query's run
  * id, which [[bindStream]] maps to the span that started the query.
  * Jobs with neither are `spark.unattributed_jobs` (e.g. jobs from a
  * library-owned thread pool that did not inherit the group). As the
  * run has one client thread and nothing else runs beside it, such a
  * job still counts toward the root span whose interval it starts in.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0 = System.currentTimeMillis()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execModule = new ConcurrentHashMap[String, String]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val streamSpan = new ConcurrentHashMap[String, Span]()
  private val spanBuf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var seq = 0

  def spans: Seq[Span] = spanBuf.toSeq

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val rec = JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.job.description"),
        moduleOf(e.stageInfos.map(_.details)) match {
          // a job an AQE stage submits from Spark's own pool carries no
          // caller frames: take its SQL execution's call site instead
          case "other" => Option(execModule.get(prop("spark.sql.execution.id")))
            .getOrElse("other")
          case m => m
        }, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) rec.synchronized {
        rec.tasks += 1
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.bytesRead += m.inputMetrics.bytesRead
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execModule.put(x.executionId.toString, moduleOf(Seq(x.details)))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add(PlanRec(ph.values.map(_.startTimeMs).min,
          ph.values.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.get("triggerExecution")
      if (d != null && e.progress.numInputRows > 0)
        progress.add(ProgressRec(e.progress.runId.toString, d.longValue))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.benchbridge.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `f` as one span: a call into `layer` named `name`, in request
    * `group`. Spans nest on the benchmark thread.
    */
  def span[A](group: String, layer: String, name: String)(f: => A): A = {
    seq += 1
    val s = Span(seq, group, layer, name, stack.headOption.map(_.id), now())
    s.compiles0 = compileCount
    spanBuf += s
    sc.setJobGroup(group, s"span:${s.id}", interruptOnCancel = false)
    stack = s :: stack
    try f
    finally {
      stack = stack.tail
      s.end = now()
      s.compiles1 = compileCount
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, s"span:${p.id}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attribute a streaming query's micro-batch jobs to `span`. */
  def bindStream(runId: String, span: Span): Unit = streamSpan.put(runId, span)

  def current: Option[Span] = stack.headOption

  /** Span of a job: by description (benchmark thread), else by the
    * streaming query run id in its group.
    */
  def spanOf(j: JobRec): Option[Span] =
    if (j.desc.startsWith("span:"))
      spanBuf.find(_.id == j.desc.stripPrefix("span:").toInt)
    else Option(streamSpan.get(j.group))

  /** Jobs of `s` and its descendants; for a root span, also the
    * untagged jobs that start inside it.
    */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = descendants(s).map(_.id).toSet
    jobs.values.asScala.filter(j => spanOf(j) match {
      case Some(x) => ids(x.id)
      case None => s.parent.isEmpty && j.group != Layers.PrepareGroup &&
        j.start >= s.start && j.start <= s.end
    }).toSeq
  }

  def descendants(s: Span): Seq[Span] =
    s +: spanBuf.filter(_.parent.contains(s.id)).flatMap(descendants).toSeq

  def settle(): Unit = org.apache.spark.benchbridge.Bus.drain(sc)

  /** The tracer clock: epoch ms, the clock Spark stamps jobs with. */
  def now(): Double = System.currentTimeMillis().toDouble

  /** Spans and job records as JSON lines, for offline inspection. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spanBuf.foreach(s => w.println(
        s"""{"span":${s.id},"group":"${s.group}","layer":"${s.layer}","name":"${s.name}",""" +
          s""""parent":${s.parent.getOrElse(-1)},"start_ms":${s.start - t0},"end_ms":${s.end - t0}}"""))
      jobs.values.asScala.toSeq.sortBy(_.id).foreach(j => w.println(
        s"""{"job":${j.id},"group":"${j.group}","desc":"${j.desc}","module":"${j.module}",""" +
          s""""start_ms":${j.start - t0},"end_ms":${j.end - t0},"tasks":${j.tasks},""" +
          s""""run_ms":${j.runMs},"shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead}}"""))
    } finally w.close()
  }
}

object Tracer {

  final case class Span(id: Int, group: String, layer: String, name: String,
      parent: Option[Int], start: Double) {
    var end: Double = start
    var compiles0: Long = 0
    var compiles1: Long = 0
    def ms: Double = end - start
  }

  final case class JobRec(id: Int, group: String, desc: String, module: String,
      start: Long) {
    @volatile var end: Long = start
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var bytesRead = 0L
  }

  final case class PlanRec(startEpochMs: Long, ms: Long)
  final case class ProgressRec(runId: String, ms: Long)

  /** The library modules a job can come from. */
  val Modules: Seq[String] = Seq("core", "sources", "functions", "expressions",
    "operators", "sinks", "jobs", "streaming", "analytics")

  /** Innermost library module on a job's call site (its stages' long
    * call-site form lists the calling frames, innermost first).
    */
  def moduleOf(details: Seq[String]): String = {
    val frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.""".r
    details.iterator.flatMap(_.split("\n").iterator).collectFirst {
      case line if frame.findFirstMatchIn(line).exists(m => Modules.contains(m.group(1))) =>
        frame.findFirstMatchIn(line).get.group(1)
    }.getOrElse("other")
  }

  /** Janino compiles so far in this JVM. */
  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
