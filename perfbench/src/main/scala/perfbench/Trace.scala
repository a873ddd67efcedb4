package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of the benchmark's own calls. `op` is the
  * operation (one query or one hour) the span belongs to; `parent` is
  * -1 for the operation's root span. Times are epoch microseconds. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startUs: Long, endUs: Long)

final case class JobRec(
    id: Int, span: Int, startMs: Long, endMs: Long, site: String, execId: Long, stages: Seq[Int])
final case class StageRec(id: Int, tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long, written: Long)
final case class BatchRec(timeMs: Long, durationsMs: Map[String, Long])

/** Spans around each call the benchmark makes into a layer's public
  * function, plus the Spark jobs, stages and micro-batches those calls
  * caused. Everything stays in memory until [[write]]. A disabled tracer
  * only runs the bodies. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val ExecProp = "spark.sql.execution.id"
  private val clockBase = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private def nowUs: Long = clockBase + System.nanoTime() / 1000

  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, Long)] // (span id, start)
  private var nextId = 0
  private var opId = -1

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  private val execSites = new ConcurrentHashMap[Long, String]()

  /** The program file whose call submitted the job, directly or through
    * the SQL execution it belongs to; "" when none did. */
  def siteOf(j: JobRec): String =
    if (j.site.nonEmpty) j.site else Option(execSites.get(j.execId)).getOrElse("")

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      // the result stage carries the job's call site; its long form is
      // the submitting stack, innermost frame first
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecProp)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L, Tracer.siteFile(site), exec, e.stageIds))
    }
    // adaptive execution submits query-stage jobs from a pool thread whose
    // stack no longer shows the caller; the SQL execution keeps its action's
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execSites.put(x.executionId, Tracer.siteFile(x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId,
        if (m == null) StageRec(i.stageId, i.numTasks, 0, 0, 0, 0)
        else StageRec(i.stageId, i.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Root span of one operation. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      opId += 1
      span(name)(body)
    }

  /** Waits until every event of the finished operation has been
    * delivered; called outside the operation's timing. */
  def settle(): Unit = if (enabled) PerfbenchBus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val sc = spark.sparkContext
      stack = (id, nowUs) :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        val (_, start) = stack.head
        stack = stack.tail
        spans.synchronized(spans += Span(id, name, opId, parent, start, nowUs))
        sc.setLocalProperty(SpanProp, stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** Spans, jobs and micro-batches as one JSON document. */
  def write(path: java.nio.file.Path, notes: Seq[String]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${s.op},"parent":${s.parent},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""").mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""site":${Json.str(siteOf(j))},"stages":${j.stages.mkString("[", ",", "]")}}""").mkString(",")
    sb ++= "],\"batches\":["
    sb ++= batches.asScala.toSeq.map(b =>
      s"""{"time_ms":${b.timeMs},"duration_ms":${Json.obj(b.durationsMs.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })}}""").mkString(",")
    sb ++= "],\"notes\":" + notes.map(Json.str).mkString("[", ",", "]") + "}"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Off = new Tracer(null, enabled = false)
  private val SiteRe = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** Source file of the innermost program frame of a long-form call site
    * ("graft.io.TxTable$.upsert(TxTable.scala:912)" → "TxTable"); "" when
    * no program frame submitted the job. */
  def siteFile(callSite: String): String =
    SiteRe.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("")
}
