package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Work the Spark scheduler did for one span, summed from listener events. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var executorCpuNs, executorRunMs, schedulerWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    executorCpuNs += o.executorCpuNs; executorRunMs += o.executorRunMs
    schedulerWaitMs += o.schedulerWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

/** One Spark job: the span that was open when it was submitted, its wall
  * interval (epoch ms) and the user-code call site that submitted it. */
final case class JobRec(span: Int, start: Long, var end: Long, callSite: String)

/** One stage: its span, whether it read shuffle output, and its task times. */
final class StageRec(val span: Int, val submitted: Long) {
  var shuffleRead = 0L
  val taskMs = ArrayBuffer[Long]()
}

final class Span(val id: Int, val name: String, val parent: Int, val runId: Int,
    val startMs: Long, val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer: spans opened around calls into the engine, and a
  * SparkListener that charges every job, stage and task to the span that
  * was open when the job was submitted (carried as a job-local property,
  * so attribution survives the listener bus's asynchronous delivery).
  * Spans stay in memory until [[writeTo]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "graftbench.span"
  private val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val counters = mutable.Map[Int, Counters]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageOf = mutable.Map[Int, StageRec]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val executionSite = mutable.Map[String, String]()

  sc.addSparkListener(this)

  def span[A](name: String, runId: Int)(body: => A): A = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.length, name, parent, runId, System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    open = s :: open
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Waits until the listener has seen every event of finished actions. */
  def settle(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def subtree(root: Span): Set[Int] = spans.synchronized {
    var ids = Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids
  }

  /** Counters of a span and every span opened inside it. */
  def totals(root: Span): Counters = {
    settle()
    val ids = subtree(root)
    val c = new Counters
    synchronized(counters.foreach { case (id, v) => if (ids(id)) c += v })
    c
  }

  def jobsIn(root: Span): Seq[JobRec] = {
    settle()
    val ids = subtree(root)
    synchronized(jobs.values.filter(j => ids(j.span)).toVector)
  }

  def stagesIn(root: Span): Seq[StageRec] = {
    settle()
    val ids = subtree(root)
    synchronized(stageOf.values.filter(s => ids(s.span)).toVector)
  }

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toVector)

  private def c(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
    // jobs that adaptive execution submits from its own threads carry the
    // call site of the SQL execution (query) they belong to
    val execution = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
    val site = execution.flatMap(executionSite.get).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    jobs(e.jobId) = JobRec(span, e.time, -1L, site)
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
    c(span).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized(executionSite(x.executionId.toString) = x.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageInfo.stageId, -1)
    stageOf(e.stageInfo.stageId) =
      new StageRec(span, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    c(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stageOf.get(e.stageId)
    val span = st.map(_.span).getOrElse(stageSpan.getOrElse(e.stageId, -1))
    val k = c(span)
    k.tasks += 1
    if (!e.taskInfo.successful) k.taskFailures += 1
    st.foreach(s => k.schedulerWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitted))
    val m = e.taskMetrics
    if (m != null) {
      k.executorCpuNs += m.executorCpuTime
      k.executorRunMs += m.executorRunTime
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.inputBytes += m.inputMetrics.bytesRead
      k.outputBytes += m.outputMetrics.bytesWritten
      st.foreach { s =>
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.taskMs += e.taskInfo.duration
      }
    }
  }

  /** Writes every span as one JSON line: name, start, end, parent, run id. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.map { s =>
      val end = s.startMs + (s.endNs - s.startNs) / 1000000L
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":$end,""" +
        s""""parent":${s.parent},"run_id":${s.runId}}"""
    })
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
