package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's tracing, kept entirely outside the program:
  *
  *   - spans (name, start, end, parent, op id) around each call the
  *     benchmark makes into a layer, held in memory;
  *   - a SparkListener that files every job under the innermost open span
  *     (through a local property the span sets on the driver thread) and
  *     sums task metrics per stage, with the stage's call site, e.g.
  *     `parquet at TableStore.scala:150`, naming the module that started it;
  *   - a QueryExecutionListener that records Catalyst's phase times and,
  *     for writes, the target directory, files and bytes written.
  *
  * Listener callbacks arrive on Spark's bus thread; read the totals only
  * after [[drain]].
  */
final class Trace(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  // ---- spans: driver thread only ----
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastId = 0

  def span[A](name: String, op: Int)(body: => A): A = {
    lastId += 1
    val s = Span(lastId, name, op, open.headOption.fold(0)(_.id),
      System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  // ---- listener state: written on the bus thread ----
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val execSites = mutable.Map.empty[Long, String]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop(SpanKey).fold(0)(_.toInt), e.time)
    // AQE submits query stages from its own threads, so a stage's call
    // site names a JDK frame; the SQL execution's call site is the action
    val site = prop("spark.sql.execution.id")
      .flatMap(x => execSites.get(x.toLong))
    e.stageInfos.foreach { si =>
      stages.getOrElseUpdate(si.stageId,
        Stage(e.jobId, site.getOrElse(siteFile(si.name))))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSites(x.executionId) = siteFile(x.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    val write = writeNode(qe.executedPlan)
    val target = write.map(_.cmd).collect {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }.getOrElse("")
    def metric(k: String) =
      write.flatMap(_.metrics.get(k)).fold(0L)(_.value)
    if (phases.nonEmpty) execs += Exec(phases.map(_.startTimeMs).min,
      phases.map(_.durationMs).sum / 1e3, target, metric("numFiles"),
      metric("numOutputBytes"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def drain(): Unit = org.apache.spark.BusDrain(sc)

  /** Totals over every span named `name`. */
  def totals(name: String): Totals = synchronized {
    val ss = spans.filter(s => s.name == name && s.end > 0)
    val ids = ss.map(_.id).toSet
    val js = jobs.values.filter(j => ids(j.span)).toSeq
    val jobIds = js.map(_.id).toSet
    val st = stages.values.filter(s => jobIds(s.job) && s.tasks > 0).toSeq
    // a query execution belongs to the span its planning started in
    val ex = execs.filter(x => ss.exists(s => s.start <= x.startMs &&
      x.startMs <= s.end)).toSeq
    // wall time inside each span covered by none of its jobs: driver-side
    // work such as planning, rendering and file copies
    val driverMs = ss.map { s =>
      val iv = js.filter(_.span == s.id)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = s.start
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      (s.end - s.start) - covered
    }.sum
    Totals(ss.size, ss.map(s => s.end - s.start).sum / 1e3, js.size,
      driverMs / 1e3, st, ex)
  }

  /** Every span as one JSON object per line, for offline inspection. */
  def spansJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ms":${s.start},"end_ms":${s.end}}"""
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, op: Int, parent: Int,
                        start: Long) {
    var end: Long = 0L
  }

  final case class Job(id: Int, span: Int, start: Long) {
    var end: Long = start
  }

  final case class Stage(job: Int, site: String) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L
    var peakMem = 0L; var recordsRead = 0L
  }

  /** A query execution: when planning started, Catalyst's phase time and,
    * for a write, its target directory, files and bytes. */
  final case class Exec(startMs: Long, catalystS: Double, target: String,
                        files: Long, bytes: Long)

  /** The write command of an executed plan, looking through AQE. */
  def writeNode(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case a: AdaptiveSparkPlanExec => writeNode(a.executedPlan)
    case q: QueryStageExec => writeNode(q.plan)
    case other => other.children.iterator.map(writeNode).collectFirst {
      case Some(w) => w
    }
  }

  final case class Totals(n: Int, wallS: Double, jobs: Int, driverS: Double,
                          stages: Seq[Stage], execs: Seq[Exec])

  /** `parquet at TableStore.scala:150` -> `TableStore.scala`. */
  private val SiteRe = """ at ([\w$]+\.scala):\d+""".r

  def siteFile(stageName: String): String =
    SiteRe.findFirstMatchIn(stageName).fold("")(_.group(1))
}
