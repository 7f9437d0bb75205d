package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed region of the benchmark: a public call it makes, or a
  * grouping of such calls. `parent` is -1 at the root; `op` numbers the
  * workload operation the span belongs to. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, name: String, layer: String, op: Int,
    start: Double, end: Double)

/** Span recorder plus a SparkListener that records every job and stage.
  *
  * Spans are kept in memory and written once at the end. Each Spark job
  * is attributed to the benchmark span active on the submitting thread
  * (carried as the `perfbench.span` local property, which Spark copies
  * into the job's properties and into the threads it spawns for
  * broadcasts and subqueries) and to the repository module named by its
  * call site. Handler time is accumulated so the recorder's own cost is
  * visible. With `enabled = false` nothing is registered and `span` only
  * runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var op = 0

  final class JobRec(val id: Int, val span: Int, val start: Long, val stages: Seq[Int],
      val callSite: String) {
    @volatile var end: Long = -1L
  }
  final class StageRec(val id: Int, val job: Int) {
    var numTasks = 0
    var submitted = -1L
    var completed = -1L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val handlerNs = new AtomicLong()

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.top
      val start = nowMs()
      stack.push(id)
      sc.setLocalProperty("perfbench.span", id.toString)
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, layer, op, start, nowMs())
        sc.setLocalProperty("perfbench.span", if (stack.isEmpty) null else stack.top.toString)
      }
    }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally handlerNs.addAndGet(System.nanoTime() - t0)
  }

  // A SQL execution's call site is captured on the thread that ran the
  // action; its jobs may be submitted from other threads (broadcasts,
  // adaptive query stages) whose stacks hold no repository frame.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      timed(executionSite.put(x.executionId, Tracer.siteOf(x.details)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop("perfbench.span").map(_.toInt).getOrElse(-1)
    val own = Tracer.siteOf(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val site = if (own.nonEmpty) own
      else prop("spark.sql.execution.id").flatMap(x => Option(executionSite.get(x.toLong)))
        .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, e.stageIds, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  private def stageRec(id: Int): StageRec =
    stages.computeIfAbsent(id, _ => new StageRec(id, stageJob.getOrDefault(id, -1)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val s = stageRec(info.stageId)
    s.synchronized {
      s.numTasks += info.numTasks
      s.submitted = info.submissionTime.getOrElse(-1L)
      s.completed = info.completionTime.getOrElse(-1L)
      val m = info.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskInfo != null) {
      val s = stageRec(e.stageId)
      s.synchronized(s.taskMs += e.taskInfo.duration)
    }
  }

  /** Spans, jobs and stages as JSON-ready values. */
  def dump(): Map[String, Any] = {
    val js = jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end,
      "stages" -> j.stages, "site" -> j.callSite))
    val ss = stages.values().asScala.toSeq.sortBy(_.id).map { s =>
      val t = s.taskMs.sorted
      Map("id" -> s.id, "job" -> s.job, "tasks" -> s.numTasks, "submitted" -> s.submitted,
        "completed" -> s.completed, "cpu_s" -> s.cpuNs / 1e9,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
        "task_max_ms" -> (if (t.isEmpty) 0L else t.last),
        "task_median_ms" -> (if (t.isEmpty) 0L else t(t.size / 2)))
    }
    Map(
      "spans" -> spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> js, "stages" -> ss, "handler_s" -> handlerNs.get() / 1e9,
      "elapsed_s" -> (System.nanoTime() - baseNs) / 1e9)
  }
}

object Tracer {
  /** The repository frame a call site names: the innermost `graft.`
    * frame of Spark's long call-site form, as module.method, e.g.
    * `graft.sinks.Sink$.upsertAppend(Sink.scala:37)` →
    * `sinks.Sink.upsertAppend`. Call sites outside the repository (the
    * benchmark's own actions) return "" and are attributed to the
    * enclosing span instead. */
  def siteOf(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val parts = frame.takeWhile(_ != '(').stripPrefix("graft.").split('.')
        val module = parts.dropRight(1).mkString(".").takeWhile(_ != '$')
        val method = parts.last.split('$').find(p => p.nonEmpty && p != "anonfun")
        module + method.map("." + _).getOrElse("")
      case None => ""
    }
}
