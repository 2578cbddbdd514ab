package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One layer call made by the benchmark. Times are epoch milliseconds with
  * sub-millisecond digits (nanoTime anchored once), so spans line up with
  * Spark job times and manifest commit times. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. When disabled, [[span]] only runs its body.
  * When enabled it also tags the calling thread's Spark jobs with the span
  * name and request id (local properties, inherited by threads the engine
  * starts), which is how [[JobRecorder]] attributes jobs to layer calls. */
final class Tracer(@volatile var enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[Span]()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val open = Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
        req, name, nowMs, 0.0)
      val prevName = sc.getLocalProperty(Tracer.SpanProp)
      val prevReq = sc.getLocalProperty(Tracer.ReqProp)
      current.set(open)
      sc.setLocalProperty(Tracer.SpanProp, name)
      sc.setLocalProperty(Tracer.ReqProp, req.toString)
      try body
      finally {
        spans.add(open.copy(endMs = nowMs))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanProp, prevName)
        sc.setLocalProperty(Tracer.ReqProp, prevReq)
      }
    }

  /** Record a span whose bounds were observed elsewhere (manifest steps). */
  def record(name: String, req: Long, parent: Long, startMs: Double,
      endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, req, name, startMs, endMs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  def toJson: String = {
    val spans = all
    val self = Tracer.selfMs(spans)
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"

  /** Self time per span: its duration minus the part of it that its child
    * spans cover (overlapping children counted once). */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> (s.ms - covered)
    }.toMap
  }
}

/** Per-job executor metrics plus what identifies the job's caller. */
final class JobRecord(val id: Int, val startMs: Long, val props: Map[String, String],
    val stages: Seq[Int]) {
  @volatile var endMs: Long = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var tasks = 0
  def span: String = props.getOrElse(Tracer.SpanProp, "")
  def req: String = props.getOrElse(Tracer.ReqProp, "")
  def callSite: String = props.getOrElse("callSite.short", "")
  def wallMs: Long = math.max(0L, endMs - startMs)
}

/** The benchmark's own SparkListener: per job, executor run time, CPU, GC,
  * shuffle read/write, spill and task count, with the job's local
  * properties (span tags, call site) and, for writes, the output path of
  * its SQL execution. */
final class JobRecorder extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val byStage = new ConcurrentHashMap[Int, JobRecord]()
  private val execOut = new ConcurrentHashMap[Long, String]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  // formatted plans list the write node's arguments in its details block
  private val WritePath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (file:[^,\s]+)""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // inherited local properties live in the Properties defaults, which
    // only the stringPropertyNames / getProperty view includes
    val props: Map[String, String] = Option(e.properties).map { p =>
      p.stringPropertyNames.asScala.map(k => k -> p.getProperty(k)).toMap
    }.getOrElse(Map.empty)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val j = new JobRecord(e.jobId, e.time, props + ("callSite.short" -> site), e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.tasks += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execRoot.put(s.executionId, s.rootExecutionId.getOrElse(s.executionId))
      WritePath.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => execOut.put(s.executionId, m.group(1)))
    case _ => ()
  }

  /** Output path written by the job's SQL execution (or its root), if any. */
  def outputOf(j: JobRecord): Option[String] =
    j.props.get("spark.sql.execution.id").flatMap(_.toLongOption).flatMap { x =>
      Option(execOut.get(x)).orElse(
        Option(execRoot.get(x)).flatMap(r => Option(execOut.get(r))))
    }

  def all: Seq[JobRecord] = jobs.values().asScala.toSeq.sortBy(_.id)

  def toJson: String = all.map { j =>
    def q(x: String) = "\"" + x.replace("\\", "/").replace("\"", "'") + "\""
    s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
      s""""span":${q(j.span)},"req":${q(j.req)},"call_site":${q(j.callSite)},""" +
      s""""sql_execution":${q(j.props.getOrElse("spark.sql.execution.id", ""))},""" +
      s""""output":${q(outputOf(j).getOrElse(""))},"tasks":${j.tasks},""" +
      s""""run_ms":${j.runMs},"cpu_ms":${j.cpuNs / 1000000},"gc_ms":${j.gcMs},""" +
      s""""shuffle_read_bytes":${j.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object JobRecorder {
  val MB: Double = 1024.0 * 1024.0
}
