package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A closed interval of benchmark work around one call into a layer.
  * `parent` is the enclosing span (-1 at top level) and `run` the tick or
  * bulk run it belongs to. Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work observed by the listeners, keyed back to the span that
  * submitted it through a job-group local property.
  */
final case class JobRec(jobId: Int, span: Int, executionId: Long, callSite: String,
    submitMs: Long, endMs: Long, stages: Seq[Int])
final case class StageRec(stageId: Int, submitMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, bytesRead: Long, bytesWritten: Long,
    recordsWritten: Long)
final case class QeRec(executionId: Long, planningMs: Double, jsonScans: Int)

/** Spans plus engine counters. Disabled, `span` only runs its body: the
  * untraced runs register no listener and record nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var enabled = false
  var run = 0

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val executions = new ConcurrentLinkedQueue[QeRec]()

  private val SpanKey = "pipebench.span"

  private object Jobs extends SparkListener with AdaptiveSparkPlanHelper {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): Option[String] = Option(p).flatMap(x => Option(x.getProperty(k)))
      jobStarts.put(e.jobId, (prop(SpanKey).map(_.toInt).getOrElse(-1),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("callSite.short").orElse(e.stageInfos.lastOption.map(_.name)).getOrElse(""),
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (span, exec, site, t0, st) =>
        jobs.add(JobRec(e.jobId, span, exec, site, t0, e.time, st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    // the end event carries the executed QueryExecution (the object a
    // QueryExecutionListener receives) in a field private to Spark SQL
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        end.getClass.getMethod("qe").invoke(end) match {
          case qe: QueryExecution =>
            val planning = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
            val scans = collectWithSubqueries(qe.executedPlan) {
              case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => 1
            }.size
            executions.add(QeRec(end.executionId, planning.toDouble, scans))
          case _ =>
        }
      case _ =>
    }
  }
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, String, Long, Seq[Int])]()

  def start(): Unit = if (!enabled) {
    enabled = true
    sc.addSparkListener(Jobs)
  }

  /** Stop recording: later work runs untraced again. */
  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(Jobs)
    enabled = false
  }

  def isEnabled: Boolean = enabled

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, run, t0, t1)
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1).get
    if (m.getParameterCount == 0) m.invoke(bus) else m.invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Span id → the span and every span nested in it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root.id)
  }

  def jobsIn(ids: Set[Int]): Seq[JobRec] = jobs.asScala.filter(j => ids(j.span)).toSeq

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val st = js.flatMap(_.stages).toSet
    tasks.asScala.filter(t => st(t.stageId)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val st = js.flatMap(_.stages).toSet
    stages.asScala.filter(s => st(s.stageId)).toSeq
  }

  def executionsOf(js: Seq[JobRec]): Seq[QeRec] = {
    val ex = js.map(_.executionId).toSet
    executions.asScala.filter(q => ex(q.executionId)).toSeq
  }

  /** Spans as JSON lines: id, name, parent, run, start/end (ms from the
    * first span) and self time (duration minus the union of child spans).
    */
  def spansJsonl: String = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val kids = spans.groupBy(_.parent)
    spans.sortBy(_.start).map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      val self = (s.end - s.start - covered) / 1e6
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,""" +
        f""""self_ms":$self%.3f}"""
    }.mkString("", "\n", "\n")
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
